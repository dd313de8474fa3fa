"""Geospatial queries for the driver's correctness gate.

Each query runs the REAL engine (region PIP join + grid-corner
bilinear) over points derived deterministically from the driver's
``events`` table; the paired oracle is closed-form ANSI SQL generated
from the same catalog (analytic-plane grids ⇒ bilinear is exact, so
the oracle can evaluate the plane directly).

The derivation arithmetic is written identically on both sides
(same operation order ⇒ bit-identical doubles), so row counts,
region/tile assignments, and rounded z/unc values match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datums import catalog, pipeline as pl, vypercrs
from ..engine import transform as tx
from ..engine.inputs import local_df, read_input
from ..grids import tiler
from ..spatial import cells, crs as hcrs, zorder as zorder_mod
from . import fixtures

FAMOUS_X = -76.7512345
FAMOUS_Y = 34.7512345


# --------------------------------------------------------------------
# derived point source (events → pid, x, y, z) — both dialects
# --------------------------------------------------------------------

def derived_points(spark: SparkSession, sf_dir: str,
                   parallel: bool = True) -> DataFrame:
    path = f"{sf_dir}/events.parquet"
    ev = (read_input(spark, path, fixtures.EVENTS) if parallel
          else spark.read.schema(fixtures.EVENTS).parquet(path))
    k = F.col("event_id")
    # prime multipliers spread points over the whole region layout at
    # any scale factor (plain event_id // 400 collapses y at small sf)
    x_base = F.lit(-78.0) + ((k * 131) % 400).cast("double") * F.lit(0.01) + F.lit(0.0037)
    y_base = (
        F.lit(33.0)
        + ((k * 7919) % 300).cast("double") * F.lit(0.01)
        + F.lit(0.0021)
    )
    famous = (k % 10) == 0
    return ev.select(
        k.alias("pid"),
        F.when(famous, F.lit(FAMOUS_X)).otherwise(x_base).alias("x"),
        F.when(famous, F.lit(FAMOUS_Y)).otherwise(y_base).alias("y"),
        F.col("value").alias("z"),
    )


def derived_points_sql() -> str:
    return (
        "SELECT event_id AS pid, "
        f"CASE WHEN event_id % 10 = 0 THEN {FAMOUS_X!r} "
        "ELSE -78.0 + CAST((event_id * 131) % 400 AS DOUBLE) * 0.01 + 0.0037 END AS x, "
        f"CASE WHEN event_id % 10 = 0 THEN {FAMOUS_Y!r} "
        "ELSE 33.0 + CAST((event_id * 7919) % 300 AS DOUBLE) * 0.01 + 0.0021 END AS y, "
        "value AS z FROM events"
    )


# --------------------------------------------------------------------
# oracle SQL fragments generated from the catalog
# --------------------------------------------------------------------

def region_case_sql(x: str = "x", y: str = "y") -> str:
    """Winning region under W1 precedence: regions tested in
    DESCENDING catalog order (last-write-wins ⇒ highest ord wins).
    Rectangle containment with ray-cast-equivalent half-open bounds."""
    whens = []
    for r in sorted(catalog.REGIONS, key=lambda r: -r.region_ord):
        x0, y0, x1, y1 = r.bbox
        whens.append(
            f"WHEN {x} >= {x0!r} AND {x} < {x1!r} "
            f"AND {y} >= {y0!r} AND {y} < {y1!r} THEN '{r.region_id}'"
        )
    return "CASE " + " ".join(whens) + " ELSE NULL END"


def sep_sql_for_region(region_id: str, from_datum: str, to_datum: str,
                       x: str = "x", y: str = "y") -> str:
    """Σ sign·(a·x + b·y + c) in step order, parenthesized to match
    the engine's left-to-right accumulation."""
    r = catalog.REGION_BY_ID[region_id]
    steps = pl.compile_steps(from_datum, to_datum, r.region_id, r.geoid)
    expr = "0.0"
    for grid_id, sign in steps:
        a, b, c = catalog.GRID_PLANES[grid_id]
        expr = (
            f"({expr} + {sign!r} * (({a!r}) * {x} + ({b!r}) * {y} + ({c!r})))"
        )
    return expr


def z_out_case_sql(from_datum: str, to_datum: str,
                   x: str = "x", y: str = "y", z: str = "z") -> str:
    fin, fout = pl.axis_flips(from_datum, to_datum)
    whens = []
    for r in catalog.REGIONS:
        sep = sep_sql_for_region(r.region_id, from_datum, to_datum, x, y)
        whens.append(
            f"WHEN region_id = '{r.region_id}' "
            f"THEN ROUND({fout!r} * (({fin!r} * {z}) + {sep}), 3)"
        )
    return "CASE " + " ".join(whens) + " ELSE NULL END"


def unc_case_sql(to_datum: str) -> str:
    whens = []
    for r in catalog.REGIONS:
        u = catalog.combined_sigma(r.region_id, to_datum)
        whens.append(f"WHEN region_id = '{r.region_id}' THEN {u!r}")
    return "CASE " + " ".join(whens) + " ELSE CAST(NULL AS DOUBLE) END"


def _pts_cte() -> str:
    return f"WITH pts AS ({derived_points_sql()})"


def transform_oracle_sql(from_datum: str, to_datum: str) -> str:
    return (
        f"{_pts_cte()}, assigned AS ("
        f"  SELECT pid, x, y, z, {region_case_sql()} AS region_id FROM pts) "
        f"SELECT pid, region_id, "
        f"{z_out_case_sql(from_datum, to_datum)} AS z_out, "
        f"{unc_case_sql(to_datum)} AS unc "
        f"FROM assigned"
    )


# --------------------------------------------------------------------
# queries (spark, sf_dir) -> DataFrame + their oracle strings
# --------------------------------------------------------------------

def _transform_query(to_datum: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        pts = derived_points(spark, sf_dir)
        out = tx.transform_points(spark, pts, "ellipse", to_datum, key_col="pid")
        return out.select("pid", "region_id", "z_out", "unc")

    return q


def q_geo_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A1: extent aggregation before region search (core.py:386-388)
    pts = derived_points(spark, sf_dir)
    return pts.agg(
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
        F.count("*").alias("n"),
    )


def q_geo_region_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J1+J2+W1 region assignment, A2 per-region counts
    pts = derived_points(spark, sf_dir)
    out = tx.transform_points(spark, pts, "ellipse", "mllw", key_col="pid",
                              include_uncertainty=False)
    return (
        out.groupBy("region_id")
        .agg(
            F.count("*").alias("n_points"),
            F.min("z_out").alias("min_z"),
            F.max("z_out").alias("max_z"),
        )
        .orderBy("region_id")
    )


def q_geo_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the "identical tile assignments" contract: coarse + fine cells
    # parallel=False: pure column math, no heavy per-row work - the
    # read_input pre-shuffle only adds a stage (r6 A/B)
    pts = derived_points(spark, sf_dir, parallel=False)
    return pts.selectExpr(
        "pid",
        cells.encode_spark_sql("x", "y", cells.COARSE_RES) + " AS cell5",
        cells.encode_spark_sql("x", "y", cells.FINE_RES) + " AS cell9",
    )


def q_geo_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (hypertable-style) cell rollup: per-cell point
    count + depth sum at resolutions 9 → 8 → 7 (the sampled-path
    index resolution and two parents), where each coarser
    level is RE-AGGREGATED from the finer level's partials via the
    integer parent() bit math — one scan of the data total, then two
    tiny aggregations over ~|cells| rows, instead of three scans.
    This is the mergeable-rollup shape a 10^12-point depth table
    needs (the res-9 agg is the only data-scale shuffle; level sizes
    shrink 4× per step).  The DuckDB oracle computes every level
    DIRECTLY from raw points, so the gate simultaneously proves the
    parent derivation and the re-aggregation are exact."""
    # parallel=False: the res-9 aggregate is the only real work and it
    # re-partitions anyway; the read_input pre-shuffle only adds a
    # stage (r6 A/B: 0.70 -> 0.46 s)
    pts = derived_points(spark, sf_dir, parallel=False)
    base = pts.selectExpr(
        cells.encode_spark_sql("x", "y", cells.FINE_RES) + " AS cell", "z",
    ).filter("cell >= 0")
    l9 = base.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_points"), F.sum("z").alias("_s")
    )

    def up(df: DataFrame, res: int) -> DataFrame:
        return (
            df.selectExpr(
                cells.parent_spark_sql("cell", res, res - 1) + " AS cell",
                "n_points",
                "_s",
            )
            .groupBy("cell")
            .agg(F.sum("n_points").alias("n_points"), F.sum("_s").alias("_s"))
        )

    l8 = up(l9, cells.FINE_RES)
    l7 = up(l8, cells.FINE_RES - 1)
    out = (
        l9.withColumn("res", F.lit(cells.FINE_RES))
        .unionByName(l8.withColumn("res", F.lit(cells.FINE_RES - 1)))
        .unionByName(l7.withColumn("res", F.lit(cells.FINE_RES - 2)))
    )
    return out.select(
        "res", "cell", "n_points", F.round(F.col("_s"), 2).alias("sum_z")
    )


def geo_cell_rollup_sql() -> str:
    lvl = []
    for res in (cells.FINE_RES, cells.FINE_RES - 1, cells.FINE_RES - 2):
        c = cells.encode_sql("x", "y", res)
        lvl.append(
            f"SELECT {res} AS res, {c} AS cell, "
            f"CAST(COUNT(*) AS BIGINT) AS n_points, "
            f"ROUND(SUM(z), 2) AS sum_z FROM pts GROUP BY {c}"
        )
    return _pts_cte() + " " + " UNION ALL ".join(lvl)


def q_geo_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key per point at both index
    resolutions — the storage-layout twin of geo_tile_assign (same
    cells, interleaved instead of concatenated bit layout), used by
    spatial.zorder.zorder_write to make bbox predicates prune at
    parquet-file level."""
    pts = derived_points(spark, sf_dir)
    return pts.selectExpr(
        "pid",
        zorder_mod.morton_from_lonlat_spark_sql("x", "y", cells.COARSE_RES) + " AS z5",
        zorder_mod.morton_from_lonlat_spark_sql("x", "y", cells.FINE_RES) + " AS z9",
    )


def q_geo_coverage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F1/A3: covered vs outside-coverage accounting
    pts = derived_points(spark, sf_dir)
    out = tx.transform_points(spark, pts, "ellipse", "mllw", key_col="pid",
                              include_uncertainty=False)
    return out.agg(
        F.count("*").alias("n_total"),
        F.sum(F.col("covered").cast("long")).alias("n_covered"),
        F.sum((~F.col("covered")).cast("long")).alias("n_outside"),
    )


def q_geo_sampled_mllw(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J5 sampled mode: transform distinct fine-cell centers, join back
    pts = derived_points(spark, sf_dir)
    out = tx.transform_points_sampled(
        spark, pts, "ellipse", "mllw", key_col="pid", res=cells.FINE_RES,
        include_uncertainty=False,
    )
    return out.select("pid", "region_id", "z_out")


def q_geo_outside_catzoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F6: out-of-coverage passthrough + CATZOC-D uncertainty
    pts = derived_points(spark, sf_dir)
    out = tx.transform_points(
        spark, pts, "ellipse", "mllw", key_col="pid",
        allow_points_outside_coverage=True,
    )
    return out.select("pid", "region_id", "z_out", "unc")


def q_geo_pipeline_plans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the compiler's lineage strings as data (REMARK contract)
    rows = [
        (r.region_id,
         pl.compile_pipeline_string("ellipse", "mllw", r.region_id, r.geoid))
        for r in catalog.REGIONS
    ]
    return local_df(spark, rows, "region_id string, pipeline_str string")


def q_geo_chart_datum_flip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F4 sign flip: 'noaa chart datum' is positive-down (depth axis)
    pts = derived_points(spark, sf_dir)
    out = tx.transform_points(
        spark, pts, "ellipse", "noaa chart datum", key_col="pid",
        include_uncertainty=False,
    )
    return out.select("pid", "region_id", "z_out")


def sampled_oracle_sql() -> str:
    """Closed form for the sampled path: fine-cell center coords from
    the same floor arithmetic, region/plane evaluated at the center."""
    res = cells.FINE_RES
    sz = repr(cells.cell_size_deg(res))
    cx = f"(-180.0 + (FLOOR((x + 180.0) / {sz}) + 0.5) * {sz})"
    cy = f"(-90.0 + (FLOOR((y + 90.0) / {sz}) + 0.5) * {sz})"
    return (
        f"{_pts_cte()}, cpts AS ("
        f"  SELECT pid, {cx} AS cx, {cy} AS cy, z FROM pts), "
        f"assigned AS ("
        f"  SELECT pid, cx AS x, cy AS y, z, {region_case_sql('cx', 'cy')} AS region_id"
        f"  FROM cpts) "
        f"SELECT pid, region_id, {z_out_case_sql('ellipse', 'mllw')} AS z_out "
        f"FROM assigned"
    )


def catzoc_oracle_sql() -> str:
    fin, fout = pl.axis_flips("ellipse", "mllw")
    zc = z_out_case_sql("ellipse", "mllw")
    uc = unc_case_sql("mllw")
    # uncovered z keeps flip_out*(flip_in*z); CATZOC evaluates the
    # height-convention z (raster.py:384-390)
    zh = f"({fin!r} * z)"
    return (
        f"{_pts_cte()}, assigned AS ("
        f"  SELECT pid, x, y, z, {region_case_sql()} AS region_id FROM pts) "
        f"SELECT pid, region_id, "
        f"CASE WHEN region_id IS NOT NULL THEN {zc} "
        f"ELSE ROUND({fout!r} * {zh}, 3) END AS z_out, "
        f"CASE WHEN region_id IS NOT NULL THEN {uc} "
        f"     WHEN {zh} > 0 THEN 3.0 ELSE 3.0 - 0.06 * {zh} END AS unc "
        f"FROM assigned"
    )


def q_geo_version_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 analog: per-grid md5 fingerprint computed IN Spark over the
    catalog definition rows (reference hashes every grid file,
    core.py:1063-1147)."""
    rows = [
        (gid, repr(a), repr(b), repr(c))
        for gid, (a, b, c) in sorted(catalog.GRID_PLANES.items())
    ]
    df = local_df(spark, rows, "grid_id string, a string, b string, c string")
    payload = F.concat_ws("|", "grid_id", "a", "b", "c")
    return df.select("grid_id", F.md5(payload).alias("grid_md5"))


def q_geo_count_precedence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 raster precedence: the region with the MOST valid points
    wins on overlap (raster.py:226-233)."""
    pts = derived_points(spark, sf_dir)
    out = tx.transform_points(
        spark, pts, "ellipse", "mllw", key_col="pid",
        include_uncertainty=False, precedence="count",
    )
    return out.select("pid", "region_id", "z_out")


def count_precedence_oracle_sql() -> str:
    """W2 in SQL: explode point×region containment, count per region,
    winner = max (count, region_ord) — ties to later catalog order."""
    members = " UNION ALL ".join(
        f"SELECT pid, x, y, z, '{r.region_id}' AS region_id, "
        f"{r.region_ord} AS region_ord FROM pts "
        f"WHERE x >= {r.bbox[0]!r} AND x < {r.bbox[2]!r} "
        f"AND y >= {r.bbox[1]!r} AND y < {r.bbox[3]!r}"
        for r in catalog.REGIONS
    )
    return (
        f"{_pts_cte()}, members AS ({members}), "
        "counts AS (SELECT region_id, COUNT(*) AS cnt FROM members GROUP BY region_id), "
        "ranked AS (SELECT m.*, ROW_NUMBER() OVER (PARTITION BY pid "
        "ORDER BY c.cnt DESC, m.region_ord DESC) AS rk "
        "FROM members m JOIN counts c USING (region_id)), "
        "winner AS (SELECT pid, x, y, z, region_id FROM ranked WHERE rk = 1) "
        "SELECT p.pid, w.region_id, "
        + z_out_case_sql("ellipse", "mllw", "w.x", "w.y", "w.z").replace(
            "region_id =", "w.region_id ="
        )
        + " AS z_out FROM pts p LEFT JOIN winner w USING (pid)"
    )



# --------------------------------------------------------------------
# horizontal-CRS, inverse/cross-datum, depth-input, kNN-edge queries
# --------------------------------------------------------------------

def q_geo_transform_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projected (spcs_syn Plate Carrée) input coordinates: the engine
    inverse-projects to the geoid frame before the vertical pipeline
    (reference core.py:166-248; tests/test_core.py:130-155 state
    plane). The projection is linear, so the DuckDB oracle reproduces
    the float64 math exactly."""
    pts = derived_points(spark, sf_dir)
    px, py = hcrs.from_geoid_frame_spark_sql("spcs_syn", "x", "y")
    proj = pts.selectExpr("pid", f"{px} AS x", f"{py} AS y", "z")
    out = tx.transform_points(
        spark, proj, "ellipse", "mllw", key_col="pid", input_crs="spcs_syn"
    )
    return out.select("pid", "region_id", "z_out", "unc")


def transform_projected_oracle_sql() -> str:
    fx, fy = hcrs.from_geoid_frame_sql("spcs_syn", "x", "y")
    rx, ry, _rz = hcrs.to_geoid_frame_sql("spcs_syn", "px", "py", "z")
    return (
        f"{_pts_cte()}, proj AS (SELECT pid, {fx} AS px, {fy} AS py, z FROM pts), "
        f"rec AS (SELECT pid, {rx} AS rx, {ry} AS ry, z FROM proj), "
        f"assigned AS (SELECT pid, rx, ry, z, "
        f"{region_case_sql('rx', 'ry')} AS region_id FROM rec) "
        f"SELECT pid, region_id, "
        f"{z_out_case_sql('ellipse', 'mllw', 'rx', 'ry', 'z')} AS z_out, "
        f"{unc_case_sql('mllw')} AS unc FROM assigned"
    )


def q_geo_sampled_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-grid mode COMBINED with a projected input CRS (round-3
    advisory fix): cells bin on the geoid-frame lon/lat recovered from
    the projected coordinates, the FULL transform runs at each cell
    center with z=0 (reference points.py:67), and per-point z adds the
    axis-flipped input z to the center value (points.py:85)."""
    pts = derived_points(spark, sf_dir)
    px, py = hcrs.from_geoid_frame_spark_sql("spcs_syn", "x", "y")
    proj = pts.selectExpr("pid", f"{px} AS x", f"{py} AS y", "z")
    out = tx.transform_points_sampled(
        spark, proj, "ellipse", "mllw", key_col="pid",
        input_crs="spcs_syn", res=cells.FINE_RES,
    )
    return out.select("pid", "region_id", "z_out")


def sampled_projected_oracle_sql() -> str:
    # replicate the engine's float64 op sequence exactly: project,
    # recover geoid lon/lat, bin to fine cells, center back to the
    # projected CRS, re-recover (the (a·k)/k double round trip is NOT
    # an identity in floats — the oracle must follow the same path),
    # full transform at the center with z=0, then z0 + fin·fout·z
    fin, fout = pl.axis_flips("ellipse", "mllw")
    fx, fy = hcrs.from_geoid_frame_sql("spcs_syn", "x", "y")
    rx, ry, _ = hcrs.to_geoid_frame_sql("spcs_syn", "px", "py", "0.0")
    cell = cells.encode_sql("rx", "ry", cells.FINE_RES)
    sz = repr(cells.cell_size_deg(cells.FINE_RES))
    mask = (1 << 29) - 1
    lon_c = f"(-180.0 + (CAST((cell_r >> 29) & {mask} AS DOUBLE) + 0.5) * {sz})"
    lat_c = f"(-90.0 + (CAST(cell_r & {mask} AS DOUBLE) + 0.5) * {sz})"
    cx, cy = hcrs.from_geoid_frame_sql("spcs_syn", "lon_c", "lat_c")
    rcx, rcy, _ = hcrs.to_geoid_frame_sql("spcs_syn", "cx", "cy", "0.0")
    sep_whens = []
    for r in catalog.REGIONS:
        sep = sep_sql_for_region(r.region_id, "ellipse", "mllw", "rcx", "rcy")
        sep_whens.append(
            f"WHEN region_id = '{r.region_id}' "
            f"THEN ROUND({fout!r} * ((1.0 * 0.0) + {sep}), 3)"
        )
    z0_case = "CASE " + " ".join(sep_whens) + " ELSE NULL END"
    return (
        f"{_pts_cte()}, proj AS (SELECT pid, {fx} AS px, {fy} AS py, z FROM pts), "
        f"rec AS (SELECT pid, z, {rx} AS rx, {ry} AS ry FROM proj), "
        f"binned AS (SELECT pid, z, {cell} AS cell_r FROM rec), "
        f"centers AS (SELECT DISTINCT cell_r, {lon_c} AS lon_c, {lat_c} AS lat_c "
        f"FROM binned), "
        f"cproj AS (SELECT cell_r, {cx} AS cx, {cy} AS cy FROM centers), "
        f"crec AS (SELECT cell_r, {rcx} AS rcx, {rcy} AS rcy FROM cproj), "
        f"cass AS (SELECT cell_r, {region_case_sql('rcx', 'rcy')} AS region_id, "
        f"rcx, rcy FROM crec), "
        f"cz AS (SELECT cell_r, region_id, {z0_case} AS z0 FROM cass) "
        f"SELECT b.pid, c.region_id, "
        f"CASE WHEN c.z0 IS NOT NULL "
        f"THEN ROUND(c.z0 + {fin * fout!r} * b.z, 3) END AS z_out "
        f"FROM binned b LEFT JOIN cz c USING (cell_r)"
    )


def q_geo_transform_outframe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differing OUTPUT horizontal frame (ITRFS): x/y re-derived in the
    output frame and the z-correction ``new_z = new_z - (z - diffz)``
    applied (reference core.py:437-445)."""
    pts = derived_points(spark, sf_dir)
    out = tx.transform_points(
        spark, pts, "ellipse", "navd88", key_col="pid", output_frame="ITRFS"
    )
    return out.select("pid", "region_id", "x_out", "y_out", "z_out")


def transform_outframe_oracle_sql() -> str:
    # engine: dz_corr = 0.0 - frame_dz(x, y); z = round(fout*(fin*z +
    # sep + corr), 3) with fin=fout=1 for ellipse->navd88
    dz = hcrs.frame_dz_sql("x", "y")
    whens = []
    for r in catalog.REGIONS:
        sep = sep_sql_for_region(r.region_id, "ellipse", "navd88")
        whens.append(
            f"WHEN region_id = '{r.region_id}' "
            f"THEN ROUND(1.0 * ((1.0 * z) + {sep} + (0.0 - {dz})), 3)"
        )
    zcase = "CASE " + " ".join(whens) + " ELSE NULL END"
    ox, oy = hcrs.from_geoid_frame_sql("itrfs", "x", "y")
    # output coords only for covered points (ans_x[valid_index],
    # core.py:446-448)
    return (
        f"{_pts_cte()}, assigned AS ("
        f"  SELECT pid, x, y, z, {region_case_sql()} AS region_id FROM pts) "
        f"SELECT pid, region_id, "
        f"CASE WHEN region_id IS NOT NULL THEN {ox} END AS x_out, "
        f"CASE WHEN region_id IS NOT NULL THEN {oy} END AS y_out, "
        f"{zcase} AS z_out FROM assigned"
    )


def q_geo_transform_inverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse path (mllw→ellipse): the compiler inverts the input-side
    step list (reference inverse_datum_def, pipeline.py:145-168)."""
    pts = derived_points(spark, sf_dir)
    out = tx.transform_points(spark, pts, "mllw", "ellipse", key_col="pid")
    return out.select("pid", "region_id", "z_out", "unc")


def q_geo_transform_mllw_to_mhw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-datum (mllw→mhw): common-prefix elimination leaves the
    2-step inv-mllw + mhw pipe (reference compare_datums,
    pipeline.py:116-142; test_vypercrs.py:371-380)."""
    pts = derived_points(spark, sf_dir)
    out = tx.transform_points(spark, pts, "mllw", "mhw", key_col="pid")
    return out.select("pid", "region_id", "z_out", "unc")


def q_geo_transform_from_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEPTH-axis input ('noaa chart datum' soundings → navd88): the F4
    matrix negates input z before the pipeline (reference
    core.py:397-403)."""
    pts = derived_points(spark, sf_dir)
    out = tx.transform_points(
        spark, pts, "noaa chart datum", "navd88", key_col="pid"
    )
    return out.select("pid", "region_id", "z_out", "unc")


# ----- J8/W3: kNN fallback at a grid coverage edge -------------------
# A custom tile set NaN-masks region A's mllw grid east of a node
# column; query points sit in the NaN strip within one node spacing,
# so bilinear yields NaN and the kNN fill falls back to the nearest
# valid node (reference coverage-edge semantics). Geometry is chosen
# so the nearest valid node is ALWAYS the L column at the nearest row
# (strip width 0.039 < spacing 0.05) — closed-form in SQL.
_KNN_GD = tiler.grid_def_for_region(
    "RGNAcoast01_8301/mllw.gtx", catalog.REGION_BY_ID["RGNAcoast01_8301"]
)
KNN_NODE_LON = _KNN_GD.lon0 + 8 * _KNN_GD.dlon  # valid column (node lon)


def _knn_grid_defs():
    defs = []
    for gd in tiler.fixture_grid_defs():
        if gd.grid_id == "RGNAcoast01_8301/mllw.gtx":
            defs.append(tiler.GridDef(
                gd.grid_id, gd.lon0, gd.lat0, gd.dlon, gd.dlat, gd.nx,
                gd.ny, gd.plane,
                nan_predicate=lambda lon, lat: lon > KNN_NODE_LON + 1e-9,
            ))
        else:
            defs.append(gd)
    return defs


def _knn_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_input(spark, f"{sf_dir}/events.parquet", fixtures.EVENTS)
    k = F.col("event_id")
    x = F.lit(KNN_NODE_LON + 0.0005) + ((k * 131) % 39).cast("double") * F.lit(0.001)
    y = F.lit(33.2005) + ((k * 7919) % 100).cast("double") * F.lit(0.008)
    return ev.select(k.alias("pid"), x.alias("x"), y.alias("y"),
                     F.col("value").alias("z"))


def _knn_points_sql() -> str:
    return (
        "SELECT event_id AS pid, "
        f"({KNN_NODE_LON + 0.0005!r} + CAST((event_id * 131) % 39 AS DOUBLE) * 0.001) AS x, "
        f"(33.2005 + CAST((event_id * 7919) % 100 AS DOUBLE) * 0.008) AS y, "
        "value AS z FROM events"
    )


def q_geo_knn_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _knn_points(spark, sf_dir)
    # the NaN-masked grid + kNN candidate dims compile into the plan:
    # pure-JVM J8 path
    out = tx.transform_points(
        spark, pts, "ellipse", "mllw", key_col="pid",
        grid_defs=_knn_grid_defs(), knn_fallback=True,
    )
    return out.select("pid", "region_id", "z_out")


def knn_edge_oracle_sql() -> str:
    gd = _KNN_GD
    region = catalog.REGION_BY_ID["RGNAcoast01_8301"]
    steps = pl.compile_steps("ellipse", "mllw", region.region_id, region.geoid)
    # nearest valid node: the L column, nearest lattice row
    ynode = (
        f"({gd.lat0!r} + CAST(ROUND((y - {gd.lat0!r}) / {gd.dlat!r}, 0) AS BIGINT)"
        f" * {gd.dlat!r})"
    )
    expr = "0.0"
    for grid_id, sign in steps:
        a, b, c = catalog.GRID_PLANES[grid_id]
        if grid_id == gd.grid_id:  # kNN-filled step: plane at the node
            v = f"(({a!r}) * {KNN_NODE_LON!r} + ({b!r}) * {ynode} + ({c!r}))"
        else:
            v = f"(({a!r}) * x + ({b!r}) * y + ({c!r}))"
        expr = f"({expr} + {sign!r} * {v})"
    fin, fout = pl.axis_flips("ellipse", "mllw")
    return (
        f"WITH pts AS ({_knn_points_sql()}) "
        f"SELECT pid, '{region.region_id}' AS region_id, "
        f"ROUND({fout!r} * (({fin!r} * z) + {expr}), 3) AS z_out FROM pts"
    )



# ----- S5/J4/W2/F3/F6: the raster path under the oracle gate ---------
# A deterministic synthetic sounding band (MLLW depths → NAVD88
# heights) spanning regions A/B/C plus an uncovered strip. Exercises
# cells-as-points scan, raster sep join, W2 count precedence, nodata
# passthrough, CATZOC-D + src-unc max, and the inverse step compile —
# everything the VERDICT listed as pytest-only.
_RAS_W, _RAS_H = 160, 100
_RAS_X0, _RAS_Y0, _RAS_DX, _RAS_DY = -77.5, 34.8, 0.01, -0.01


def _raster_cells(spark: SparkSession) -> DataFrame:
    w = _RAS_W
    ids = spark.range(_RAS_W * _RAS_H)
    row = F.expr(f"id div {w}").cast("int")
    col = (F.col("id") % w).cast("int")
    x = F.lit(_RAS_X0) + (col.cast("double") + F.lit(0.5)) * F.lit(_RAS_DX)
    y = F.lit(_RAS_Y0) + (row.cast("double") + F.lit(0.5)) * F.lit(_RAS_DY)
    nodata = ((row * 7 + col * 13) % 37) == 0
    value = F.when(
        ~nodata,
        ((row * 131 + col * 17) % 400).cast("double") * F.lit(0.01) + F.lit(2.0),
    )
    src_unc = ((row + col) % 5).cast("double") * F.lit(0.1)
    return ids.select(
        F.col("id").alias("cell_id"),
        row.alias("cell_row"),
        col.alias("cell_col"),
        x.alias("x"),
        y.alias("y"),
        value.alias("value"),
        src_unc.alias("src_unc"),
    )


def q_geo_raster_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster mode (reference raster.py:349-403): sounding band on MLLW
    → NAVD88 heights. Band axis is depth, output height ⇒ flip −1 and
    ``applied = value − sep``; nodata stays null; out-of-coverage cells
    pass through with CATZOC-D vs src-unc max."""
    from ..engine import raster

    out = raster.transform_raster_points(
        spark, _raster_cells(spark), "mllw", "navd88",
        input_is_height=False, allow_points_outside_coverage=True,
    )
    return out.select(
        "cell_id", "cell_row", "cell_col", "region_id", "z_out", "unc"
    )


def raster_oracle_sql() -> str:
    w, h = _RAS_W, _RAS_H
    cellsq = (
        f"SELECT id AS cell_id, CAST(id // {w} AS INT) AS cell_row, "
        f"CAST(id % {w} AS INT) AS cell_col "
        f"FROM (SELECT unnest(generate_series(0, {w * h - 1})) AS id)"
    )
    pts = (
        "SELECT cell_id, cell_row, cell_col, "
        f"({_RAS_X0!r} + (CAST(cell_col AS DOUBLE) + 0.5) * {_RAS_DX!r}) AS x, "
        f"({_RAS_Y0!r} + (CAST(cell_row AS DOUBLE) + 0.5) * {_RAS_DY!r}) AS y, "
        "CASE WHEN (cell_row * 7 + cell_col * 13) % 37 = 0 THEN NULL "
        "ELSE CAST((cell_row * 131 + cell_col * 17) % 400 AS DOUBLE) * 0.01 + 2.0 "
        "END AS value, "
        "CAST((cell_row + cell_col) % 5 AS DOUBLE) * 0.1 AS src_unc "
        "FROM cells"
    )
    # W2: counts over every in-coverage (cell, region) member — plane
    # grids have no interior NaN, so membership = rect containment
    members = " UNION ALL ".join(
        f"SELECT cell_id, x, y, '{r.region_id}' AS region_id, "
        f"{r.region_ord} AS region_ord FROM pts "
        f"WHERE x >= {r.bbox[0]!r} AND x < {r.bbox[2]!r} "
        f"AND y >= {r.bbox[1]!r} AND y < {r.bbox[3]!r}"
        for r in catalog.REGIONS
    )
    # sep for the winning region at the cell center (inverse compile:
    # mllw → navd88)
    sep_whens = []
    sig_whens = []
    for r in catalog.REGIONS:
        sep = sep_sql_for_region(r.region_id, "mllw", "navd88", "w.x", "w.y")
        sep_whens.append(f"WHEN w.region_id = '{r.region_id}' THEN {sep}")
        u = catalog.combined_sigma(r.region_id, "navd88")
        sig_whens.append(f"WHEN w.region_id = '{r.region_id}' THEN {u!r}")
    sep_case = "CASE " + " ".join(sep_whens) + " ELSE NULL END"
    sig_case = "CASE " + " ".join(sig_whens) + " ELSE CAST(NULL AS DOUBLE) END"
    # band axis depth, output height: flip −1, applied = value − sep
    # (raster.py:356-364); CATZOC evaluates the height-convention
    # −value (raster.py:384-390); src unc adds when covered, max when
    # outside (raster.py:367-372, 391-396)
    catzoc = "CASE WHEN (-p.value) > 0 THEN 3.0 ELSE 3.0 - 0.06 * (-p.value) END"
    return (
        f"WITH cells AS ({cellsq}), pts AS ({pts}), members AS ({members}), "
        "counts AS (SELECT region_id, COUNT(*) AS cnt FROM members GROUP BY region_id), "
        "ranked AS (SELECT m.*, ROW_NUMBER() OVER (PARTITION BY cell_id "
        "ORDER BY c.cnt DESC, m.region_ord DESC) AS rk "
        "FROM members m JOIN counts c USING (region_id)), "
        "winner AS (SELECT cell_id, region_id, x, y FROM ranked WHERE rk = 1) "
        "SELECT p.cell_id, p.cell_row, p.cell_col, w.region_id, "
        "CASE WHEN p.value IS NULL THEN NULL "
        f"WHEN w.region_id IS NOT NULL THEN ROUND(-1.0 * (p.value - {sep_case}), 3) "
        "ELSE ROUND(-1.0 * p.value, 3) END AS z_out, "
        "CASE WHEN p.value IS NULL THEN NULL "
        f"WHEN w.region_id IS NOT NULL THEN ({sig_case} + p.src_unc) "
        f"ELSE GREATEST({catzoc}, p.src_unc) END AS unc "
        "FROM pts p LEFT JOIN winner w USING (cell_id)"
    )


def q_geo_geotiff_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 at BYTE-FORMAT fidelity (reference raster.py:513-546): the
    transformed raster goes through the cluster band-table sink, the
    pure-struct GeoTIFF writer, and the independent TIFF reader; the
    query returns the decoded Float32 pixels, so the oracle hash
    covers the full distributed-transform → strips → .tif → parse
    round trip (Float32 quantization replicated as CAST(… AS REAL) on
    the DuckDB side — IEEE round-to-nearest on both engines)."""
    import pandas as pd

    from ..engine import geotiff, raster, sinks
    from ..streaming.windows import query_work_dir

    out = raster.transform_raster_points(
        spark, _raster_cells(spark), "mllw", "navd88",
        input_is_height=False, allow_points_outside_coverage=True,
    ).withColumnRenamed("cell_row", "row").withColumnRenamed("cell_col", "col")
    d = query_work_dir("geo_tif")
    sinks.to_band_table(
        out, f"{d}/tbl", origin_x=_RAS_X0, origin_y=_RAS_Y0,
        dx=_RAS_DX, dy=_RAS_DY, width=_RAS_W, height=_RAS_H,
        bands=("z_out", "unc"), rows_per_strip=32,
    )
    geotiff.export_band_table(spark, f"{d}/tbl", f"{d}/out.tif")
    bands, meta = geotiff.read_geotiff(f"{d}/out.tif")
    assert meta["width"] == _RAS_W and meta["height"] == _RAS_H
    rows_ix, cols_ix = [a.ravel() for a in
                        __import__("numpy").meshgrid(
                            range(_RAS_H), range(_RAS_W), indexing="ij")]
    pdf = pd.DataFrame({
        "cell_row": rows_ix.astype("int32"),
        "cell_col": cols_ix.astype("int32"),
        "z_tif": bands["z_out"].ravel().astype("float64"),
        "unc_tif": bands["unc"].ravel().astype("float64"),
    })
    return spark.createDataFrame(pdf)


def geotiff_roundtrip_oracle_sql() -> str:
    # the raster oracle's z/unc, nodata-coalesced and quantized to
    # Float32 exactly as the TIFF stores them
    inner = raster_oracle_sql()
    return (
        f"SELECT cell_row, cell_col, "
        f"CAST(CAST(COALESCE(z_out, -9999.0) AS REAL) AS DOUBLE) AS z_tif, "
        f"CAST(CAST(COALESCE(unc, -9999.0) AS REAL) AS DOUBLE) AS unc_tif "
        f"FROM ({inner})"
    )


def q_geo_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 CSV sink under the oracle gate: transform → reference-shaped
    CSV export → read back with an explicit schema. Doubles survive
    byte-exactly (Java shortest-repr text round-trips to the same
    bits); null z/unc/region for uncovered rows become empty fields
    and come back null."""
    from ..engine import sinks
    from ..streaming.windows import query_work_dir

    pts = derived_points(spark, sf_dir)
    out = tx.transform_points(spark, pts, "ellipse", "mllw", key_col="pid")
    d = query_work_dir("geo_csv")
    sinks.to_csv(out, f"{d}/csv")
    return spark.read.schema(
        "x double, y double, z_out double, unc double, region_ord int"
    ).option("header", True).csv(f"{d}/csv")


def csv_roundtrip_oracle_sql() -> str:
    ords = " ".join(
        f"WHEN region_id = '{r.region_id}' THEN {r.region_ord}"
        for r in catalog.REGIONS
    )
    return (
        f"{_pts_cte()}, assigned AS ("
        f"  SELECT pid, x, y, z, {region_case_sql()} AS region_id FROM pts) "
        f"SELECT x, y, {z_out_case_sql('ellipse', 'mllw')} AS z_out, "
        f"{unc_case_sql('mllw')} AS unc, "
        f"CAST(CASE {ords} ELSE NULL END AS INT) AS region_ord "
        f"FROM assigned"
    )


def q_geo_parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 cell-partitioned parquet sink under the oracle gate: the
    transform output written partitioned by coarse cell (the tile
    layout downstream raster readers prune on) and read back — the
    partition column must survive the directory-key round trip with
    its long type and every value intact."""
    from ..engine import sinks
    from ..streaming.windows import query_work_dir

    pts = derived_points(spark, sf_dir)
    out = tx.transform_points(spark, pts, "ellipse", "mllw", key_col="pid")
    d = query_work_dir("geo_pq_sink")
    sinks.to_cell_partitioned_parquet(
        out.select("pid", "cell5", "region_id", "z_out", "unc"), f"{d}/pq"
    )
    back = spark.read.schema(
        "pid long, region_id string, z_out double, unc double, cell5 long"
    ).option("basePath", f"{d}/pq").parquet(f"{d}/pq")
    return back.select("pid", "cell5", "region_id", "z_out", "unc")


def parquet_sink_oracle_sql() -> str:
    cell5 = cells.encode_sql("x", "y", cells.COARSE_RES)
    return (
        f"{_pts_cte()}, assigned AS ("
        f"  SELECT pid, x, y, z, {region_case_sql()} AS region_id FROM pts) "
        f"SELECT pid, {cell5} AS cell5, region_id, "
        f"{z_out_case_sql('ellipse', 'mllw')} AS z_out, "
        f"{unc_case_sql('mllw')} AS unc FROM assigned"
    )


def q_geo_lineage_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound-WKT lineage round trip (reference vypercrs.py:528-663
    build, :403-445 parse, tests/test_core.py:186-199): build the
    transform's output CRS WKT, parse it BACK, and emit the recovered
    per-region lineage — if any remark field fails to round-trip the
    rows (and the oracle hash) change."""
    wkt = vypercrs.lineage_wkt("ellipse", "mllw")
    assert vypercrs.is_valid_vert_wkt(wkt)
    parsed = vypercrs.parse_vert_wkt(wkt)
    rows = [
        (rid, pipe, parsed["datum_name"], parsed["vdatum_version"],
         parsed["base_datum"], bool(parsed["is_height"]))
        for rid, pipe in zip(parsed["regions"], parsed["pipelines"])
    ]
    return local_df(
        spark, rows,
        "region_id string, pipeline_str string, datum_name string, "
        "vdatum_version string, base_datum string, is_height boolean",
    )


def lineage_wkt_oracle_sql() -> str:
    # independent expectation: pipelines from the compiler, version
    # from the known-release table — NOT via the WKT round trip
    rows = ", ".join(
        "('{}', '{}', 'mllw', '{}', 'nad83s', FALSE)".format(
            r.region_id,
            pl.compile_pipeline_string("ellipse", "mllw", r.region_id, r.geoid),
            vypercrs.detect_vdatum_version(),
        )
        for r in catalog.REGIONS
    )
    return (
        f"SELECT * FROM (VALUES {rows}) AS t(region_id, pipeline_str, "
        "datum_name, vdatum_version, base_datum, is_height)"
    )



def q_geo_parse_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-mention geoparse (regexp_extract_all + posexplode): pages
    citing TWO stations each, one output row per mention. Text is
    synthesized from events with exact-decimal coordinates so the
    rendered strings are bit-identical across engines."""
    from ..engine import geoparse

    ev = read_input(spark, f"{sf_dir}/events.parquet", fixtures.EVENTS)
    k = F.col("event_id")
    lat1 = F.lit(33.0) + ((k * 131) % 300).cast("double") * F.lit(0.01)
    lon1 = F.lit(76.0) + ((k * 7919) % 400).cast("double") * F.lit(0.01)
    lat2 = F.lit(34.0) + ((k * 37) % 100).cast("double") * F.lit(0.01)
    lon2 = F.lit(77.0) + ((k * 73) % 100).cast("double") * F.lit(0.01)
    pages = ev.select(
        k.alias("pid"),
        F.concat(
            F.lit("station A at "), F.format_string("%.5f", lat1),
            F.lit("N, "), F.format_string("%.5f", lon1),
            F.lit("W then B at "), F.format_string("%.5f", lat2),
            F.lit("N, "), F.format_string("%.5f", lon2), F.lit("W."),
        ).alias("text"),
    )
    return geoparse.geoparse_mentions(pages, id_col="pid")


def parse_mentions_oracle_sql() -> str:
    lat1 = "(33.0 + CAST((event_id * 131) % 300 AS DOUBLE) * 0.01)"
    lon1 = "(76.0 + CAST((event_id * 7919) % 400 AS DOUBLE) * 0.01)"
    lat2 = "(34.0 + CAST((event_id * 37) % 100 AS DOUBLE) * 0.01)"
    lon2 = "(77.0 + CAST((event_id * 73) % 100 AS DOUBLE) * 0.01)"
    # coordinates have <= 2 decimals exactly, so %.5f renders
    # identically in Java and C printf (no rounding at the boundary)
    text = (
        f"('station A at ' || printf('%.5f', {lat1}) || 'N, ' || "
        f"printf('%.5f', {lon1}) || 'W then B at ' || "
        f"printf('%.5f', {lat2}) || 'N, ' || printf('%.5f', {lon2}) || 'W.')"
    )
    re = r"(\d+\.\d+)\s*([NS]),?\s+(\d+\.\d+)\s*([WE])"
    return (
        f"WITH pages AS (SELECT event_id AS pid, {text} AS text FROM events), "
        f"ments AS (SELECT pid, regexp_extract_all(text, '{re}', 0) AS ms FROM pages), "
        f"expl AS (SELECT pid, i AS mention_idx, ms[i] AS m "
        f"FROM ments, LATERAL (SELECT unnest(generate_series(1, len(ms))) AS i) u) "
        f"SELECT pid, mention_idx, "
        f"(CASE WHEN regexp_extract(m, '{re}', 4) = 'W' "
        f"THEN -TRY_CAST(regexp_extract(m, '{re}', 3) AS DOUBLE) "
        f"ELSE TRY_CAST(regexp_extract(m, '{re}', 3) AS DOUBLE) END) AS x, "
        f"(CASE WHEN regexp_extract(m, '{re}', 2) = 'S' "
        f"THEN -TRY_CAST(regexp_extract(m, '{re}', 1) AS DOUBLE) "
        f"ELSE TRY_CAST(regexp_extract(m, '{re}', 1) AS DOUBLE) END) AS y "
        f"FROM expl"
    )


def queries() -> dict:
    return {
        "geo_extent": q_geo_extent,
        "geo_tile_assign": q_geo_tile_assign,
        "geo_cell_rollup": q_geo_cell_rollup,
        "geo_zorder_key": q_geo_zorder_key,
        "geo_transform_mllw": _transform_query("mllw"),
        "geo_transform_mhw": _transform_query("mhw"),
        "geo_transform_navd88": _transform_query("navd88"),
        "geo_transform_tss": _transform_query("tss"),
        "geo_region_counts": q_geo_region_counts,
        "geo_coverage_stats": q_geo_coverage_stats,
        "geo_sampled_mllw": q_geo_sampled_mllw,
        "geo_outside_catzoc": q_geo_outside_catzoc,
        "geo_chart_datum_flip": q_geo_chart_datum_flip,
        "geo_pipeline_plans": q_geo_pipeline_plans,
        "geo_version_fingerprint": q_geo_version_fingerprint,
        "geo_count_precedence": q_geo_count_precedence,
        "geo_transform_projected": q_geo_transform_projected,
        "geo_sampled_projected": q_geo_sampled_projected,
        "geo_transform_outframe": q_geo_transform_outframe,
        "geo_transform_inverse": q_geo_transform_inverse,
        "geo_transform_mllw_to_mhw": q_geo_transform_mllw_to_mhw,
        "geo_transform_from_depth": q_geo_transform_from_depth,
        "geo_knn_edge": q_geo_knn_edge,
        # alias: bench.py lists the name
        "geo_knn_edge_kernel": q_geo_knn_edge,
        "geo_raster_transform": q_geo_raster_transform,
        "geo_geotiff_roundtrip": q_geo_geotiff_roundtrip,
        "geo_csv_roundtrip": q_geo_csv_roundtrip,
        "geo_parquet_sink_roundtrip": q_geo_parquet_sink_roundtrip,
        "geo_lineage_wkt": q_geo_lineage_wkt,
        "geo_parse_mentions": q_geo_parse_mentions,
    }


def oracle_sql() -> dict:
    cell5 = cells.encode_sql("x", "y", cells.COARSE_RES)
    cell9 = cells.encode_sql("x", "y", cells.FINE_RES)
    plans_values = ", ".join(
        "('{}', '{}')".format(
            r.region_id,
            pl.compile_pipeline_string("ellipse", "mllw", r.region_id, r.geoid),
        )
        for r in catalog.REGIONS
    )
    return {
        "geo_extent": (
            f"{_pts_cte()} SELECT MIN(x) AS min_x, MAX(x) AS max_x, "
            "MIN(y) AS min_y, MAX(y) AS max_y, COUNT(*) AS n FROM pts"
        ),
        "geo_tile_assign": (
            f"{_pts_cte()} SELECT pid, {cell5} AS cell5, {cell9} AS cell9 FROM pts"
        ),
        "geo_cell_rollup": geo_cell_rollup_sql(),
        "geo_zorder_key": (
            f"{_pts_cte()} SELECT pid, "
            f"{zorder_mod.morton_from_lonlat_sql('x', 'y', cells.COARSE_RES)} AS z5, "
            f"{zorder_mod.morton_from_lonlat_sql('x', 'y', cells.FINE_RES)} AS z9 FROM pts"
        ),
        "geo_transform_mllw": transform_oracle_sql("ellipse", "mllw"),
        "geo_transform_mhw": transform_oracle_sql("ellipse", "mhw"),
        "geo_transform_navd88": transform_oracle_sql("ellipse", "navd88"),
        "geo_transform_tss": transform_oracle_sql("ellipse", "tss"),
        "geo_region_counts": (
            f"{_pts_cte()}, assigned AS ("
            f"  SELECT pid, x, y, z, {region_case_sql()} AS region_id FROM pts), "
            f"outz AS (SELECT pid, region_id, "
            f"{z_out_case_sql('ellipse', 'mllw')} AS z_out FROM assigned) "
            "SELECT region_id, COUNT(*) AS n_points, "
            "MIN(z_out) AS min_z, MAX(z_out) AS max_z "
            "FROM outz GROUP BY region_id ORDER BY region_id"
        ),
        "geo_coverage_stats": (
            f"{_pts_cte()}, assigned AS ("
            f"  SELECT {region_case_sql()} AS region_id FROM pts) "
            "SELECT COUNT(*) AS n_total, "
            "COUNT(region_id) AS n_covered, "
            "COUNT(*) - COUNT(region_id) AS n_outside FROM assigned"
        ),
        "geo_sampled_mllw": sampled_oracle_sql(),
        "geo_outside_catzoc": catzoc_oracle_sql(),
        "geo_chart_datum_flip": (
            f"{_pts_cte()}, assigned AS ("
            f"  SELECT pid, x, y, z, {region_case_sql()} AS region_id FROM pts) "
            f"SELECT pid, region_id, "
            f"{z_out_case_sql('ellipse', 'noaa chart datum')} AS z_out "
            f"FROM assigned"
        ),
        "geo_pipeline_plans": (
            f"SELECT * FROM (VALUES {plans_values}) AS t(region_id, pipeline_str)"
        ),
        "geo_version_fingerprint": (
            "SELECT grid_id, md5(grid_id || '|' || a || '|' || b || '|' || c) AS grid_md5 "
            "FROM (VALUES "
            + ", ".join(
                f"('{gid}', '{a!r}', '{b!r}', '{c!r}')"
                for gid, (a, b, c) in sorted(catalog.GRID_PLANES.items())
            )
            + ") AS t(grid_id, a, b, c)"
        ),
        "geo_count_precedence": count_precedence_oracle_sql(),
        "geo_transform_projected": transform_projected_oracle_sql(),
        "geo_sampled_projected": sampled_projected_oracle_sql(),
        "geo_transform_outframe": transform_outframe_oracle_sql(),
        "geo_transform_inverse": transform_oracle_sql("mllw", "ellipse"),
        "geo_transform_mllw_to_mhw": transform_oracle_sql("mllw", "mhw"),
        "geo_transform_from_depth": transform_oracle_sql("noaa chart datum", "navd88"),
        "geo_knn_edge": knn_edge_oracle_sql(),
        "geo_knn_edge_kernel": knn_edge_oracle_sql(),
        "geo_raster_transform": raster_oracle_sql(),
        "geo_geotiff_roundtrip": geotiff_roundtrip_oracle_sql(),
        "geo_csv_roundtrip": csv_roundtrip_oracle_sql(),
        "geo_parquet_sink_roundtrip": parquet_sink_oracle_sql(),
        "geo_lineage_wkt": lineage_wkt_oracle_sql(),
        "geo_parse_mentions": parse_mentions_oracle_sql(),
    }
