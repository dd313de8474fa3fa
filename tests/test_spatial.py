"""Cell-index and point-in-polygon unit tests (pure numpy)."""

import numpy as np

from vyperdatum_spark.datums import catalog
from vyperdatum_spark.spatial import cells, pip


def test_cell_encode_forms_agree():
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 180, 500)
    lat = rng.uniform(-90, 90, 500)
    for res in (3, 5, 9, 12):
        enc = cells.encode_np(lon, lat, res)
        for i in range(0, 500, 97):
            assert cells.encode_one(float(lon[i]), float(lat[i]), res) == int(enc[i])


def test_cell_bounds_contain_point():
    rng = np.random.default_rng(11)
    lon = rng.uniform(-180, 179.9, 200)
    lat = rng.uniform(-90, 89.9, 200)
    enc = cells.encode_np(lon, lat, 5)
    for i in range(200):
        x0, y0, x1, y1 = cells.cell_bounds(int(enc[i]))
        assert x0 <= lon[i] < x1 + 1e-12
        assert y0 <= lat[i] < y1 + 1e-12


def test_parent_hierarchy():
    rng = np.random.default_rng(13)
    lon = rng.uniform(-180, 180, 300)
    lat = rng.uniform(-90, 90, 300)
    fine = cells.encode_np(lon, lat, 9)
    coarse = cells.encode_np(lon, lat, 5)
    for f, c in zip(fine, coarse):
        assert cells.parent(int(f), 5) == int(c)


def test_nan_coords_encode_to_minus_one():
    enc = cells.encode_np(np.array([np.nan, 0.0]), np.array([1.0, np.nan]), 5)
    assert list(enc) == [-1, -1]


def test_neighbors_disk():
    c = cells.encode_one(-76.75, 34.75, 5)
    nb = cells.neighbors(c, 1)
    assert c in nb and len(nb) == 9


def test_cover_bbox_covers_probe_points():
    cov = set(cells.cover_bbox(-78.0, 33.0, -76.0, 35.0, 5))
    rng = np.random.default_rng(17)
    lon = rng.uniform(-78, -76, 100)
    lat = rng.uniform(33, 35, 100)
    enc = cells.encode_np(lon, lat, 5)
    assert set(int(e) for e in enc) <= cov


def test_pip_rectangle():
    poly = [(-78.0, 33.0), (-76.0, 33.0), (-76.0, 35.0), (-78.0, 35.0)]
    lon = np.array([-77.0, -75.0, -78.5, -76.5])
    lat = np.array([34.0, 34.0, 34.0, 36.0])
    assert list(pip.contains(poly, lon, lat)) == [True, False, False, False]


def test_pip_concave_polygon():
    # L-shape: the notch must be outside
    poly = [(0, 0), (4, 0), (4, 4), (2, 4), (2, 2), (0, 2)]
    lon = np.array([1.0, 3.0, 1.0, 3.0])
    lat = np.array([1.0, 1.0, 3.0, 3.0])
    assert list(pip.contains(poly, lon, lat)) == [True, True, False, True]


def test_polygon_cover_superset_of_region_points():
    """The cells pip.cell_terms lists (the polygon's cover in the prune
    join) hold every inside point, at the coarse and the fine res."""
    r = catalog.REGIONS[0]
    x0, y0, x1, y1 = r.bbox
    rng = np.random.default_rng(19)
    lon = rng.uniform(x0, x1, 200)
    lat = rng.uniform(y0, y1, 200)
    inside = pip.contains(list(r.polygon), lon, lat)
    for res in (cells.COARSE_RES, cells.FINE_RES):
        cov = set(pip.cell_terms(list(r.polygon), res))
        enc = cells.encode_np(lon, lat, res)
        assert set(int(e) for e in enc[inside]) <= cov


# ------------------------------------------------------------- z-order
class TestZOrder:
    def test_three_dialects_bit_identical(self, spark):
        import numpy as np

        from vyperdatum_spark.spatial import zorder

        rng = np.random.default_rng(3)
        ix = rng.integers(0, 1 << 16, size=500, dtype=np.int64)
        iy = rng.integers(0, 1 << 16, size=500, dtype=np.int64)
        want = zorder.morton_np(ix, iy).tolist()

        df = spark.createDataFrame(
            [(int(a), int(b)) for a, b in zip(ix, iy)], "ix long, iy long"
        )
        got_spark = [
            r["m"] for r in
            df.selectExpr(zorder.morton_spark_sql("ix", "iy") + " AS m")
            .collect()
        ]
        assert got_spark == want

        import duckdb
        got_sql = [
            t[0] for t in duckdb.sql(
                "SELECT " + zorder.morton_sql("ix", "iy") + " FROM ("
                "SELECT unnest(" + str(ix.tolist()) + ") AS ix, "
                "unnest(" + str(iy.tolist()) + ") AS iy)"
            ).fetchall()
        ]
        assert got_sql == want

    def test_zorder_write_enables_file_skipping(self, spark, tmp_path):
        """The point of the layout: after zorder_write, a small bbox
        intersects FEW files' lon/lat min-max boxes; after a
        hash-shuffled write, every file spans the full extent."""
        import glob

        from pyspark.sql import functions as F

        from vyperdatum_spark.spatial import zorder

        pts = spark.range(20000).select(
            (F.col("id") % 400).cast("double").alias("lon_i"),
            ((F.col("id") * 7919) % 300).cast("double").alias("lat_i"),
        ).select(
            (F.lit(-78.0) + F.col("lon_i") * 0.01).alias("lon"),
            (F.lit(33.0) + F.col("lat_i") * 0.01).alias("lat"),
        )

        def files_hit(path, bbox):
            hits = total = 0
            for f in glob.glob(f"{path}/part-*.parquet"):
                st = spark.read.parquet(f).agg(
                    F.min("lon"), F.max("lon"), F.min("lat"), F.max("lat")
                ).collect()[0]
                total += 1
                if not (st[1] < bbox[0] or st[0] > bbox[1]
                        or st[3] < bbox[2] or st[2] > bbox[3]):
                    hits += 1
            return hits, total

        zdir, hdir = str(tmp_path / "z"), str(tmp_path / "h")
        zorder.zorder_write(pts, zdir, "lon", "lat", n_files=8,
                            res=9)  # fine res: cells smaller than extent
        pts.repartition(8).write.parquet(hdir)

        bbox = (-77.6, -77.4, 33.4, 33.6)  # small box in the middle
        z_hits, z_total = files_hit(zdir, bbox)
        h_hits, h_total = files_hit(hdir, bbox)
        assert z_total == 8 and h_total == 8
        assert h_hits == 8           # hash layout: every file spans extent
        assert z_hits <= 3, z_hits   # z-order layout: bbox prunes to a few


def test_cell_rollup_levels_consistent(spark):
    """Hierarchical rollup invariants on the real query: every level
    conserves total count/sum, each child's parent exists at the next
    level, and the finest level equals a direct groupBy."""
    from vyperdatum_spark.queries.geo import q_geo_cell_rollup

    got = q_geo_cell_rollup(spark, "/root/testdata/sf0.001").toPandas()
    by_res = {r: g for r, g in got.groupby("res")}
    assert set(by_res) == {cells.FINE_RES, cells.FINE_RES - 1, cells.FINE_RES - 2}
    n_total = {r: g.n_points.sum() for r, g in by_res.items()}
    assert len(set(n_total.values())) == 1, n_total
    for r in (cells.FINE_RES, cells.FINE_RES - 1):
        parents = {cells.parent(int(c), r - 1) for c in by_res[r].cell}
        assert parents == set(int(c) for c in by_res[r - 1].cell)
