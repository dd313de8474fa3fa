"""Sinks: CSV (reference S7), partitioned parquet (S6 analog), and
the catalog/grid version fingerprint (S9).

Reference mapping:
- S7 ``VyperPoints.export_to_csv`` (points.py:104-118) → ``to_csv``:
  x, y, z_out, unc, region_index columns, header, configurable
  delimiter.
- S6 GeoTIFF write (raster.py:513-546) → partitioned parquet keyed by
  coarse cell (GeoTIFF export is a driver-side concern out of engine
  scope; the cell-keyed table is the cluster-native raster container).
- S9 grid md5 fingerprint (core.py:1063-1147): every grid file is
  md5-hashed and matched against known version sets; here the catalog
  version is the md5 of the sorted (grid_id, plane) rows — a pure
  function of catalog constants, checked as a golden.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..datums import catalog
from .inputs import local_df


def to_csv(df: DataFrame, path: str, delimiter: str = ",",
           include_region_index: bool = True) -> None:
    """Reference-shaped CSV export of transform output."""
    cols = ["x", "y", "z_out", "unc"]
    if include_region_index:
        cols.append("region_ord")
    (
        df.select(*cols)
        .write.mode("overwrite")
        .option("header", True)
        .option("sep", delimiter)
        .csv(path)
    )


def to_cell_partitioned_parquet(df: DataFrame, path: str) -> None:
    """Raster-sink analog: output partitioned by coarse cell so
    downstream tile readers prune partitions (Iceberg-style layout)."""
    df.write.mode("overwrite").partitionBy("cell5").parquet(path)


def to_band_table(
    cells_df: DataFrame,
    path: str,
    origin_x: float,
    origin_y: float,
    dx: float,
    dy: float,
    width: int,
    height: int,
    bands: tuple[str, ...] = ("z_out", "unc"),
    nodata: float = -9999.0,
    rows_per_strip: int = 256,
) -> None:
    """GeoTIFF-shaped raster sink (reference S6, raster.py:513-546),
    cluster-native: the band values land as row-major STRIPS
    (strip_id, band, row range, values array) with the geotransform in
    a one-row metadata table — everything a driver-side GeoTIFF writer
    needs, produced without any GDAL and without collecting the raster.

    Strips (not whole bands) keep each output row bounded
    (rows_per_strip × width doubles) so a 10^5×10^5-cell raster
    writes as ~400 independent rows per band instead of one 80 GB
    array."""
    strip = (F.col("row") / rows_per_strip).cast("int")
    melted = None
    for b in bands:
        part = cells_df.select(
            F.lit(b).alias("band"),
            strip.alias("strip_id"),
            "row", "col",
            F.coalesce(F.col(b), F.lit(nodata)).alias("v"),
        )
        melted = part if melted is None else melted.unionByName(part)
    strips = (
        melted.groupBy("band", "strip_id")
        .agg(
            F.min("row").alias("row0"),
            F.max("row").alias("row1"),
            # row-major order within the strip
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(
                        (F.col("row").cast("long") * width + F.col("col"))
                        .alias("pos"),
                        F.col("v"),
                    ))
                ),
                lambda s: s["v"],
            ).alias("values"),
        )
    )
    strips.write.mode("overwrite").partitionBy("band").parquet(
        f"{path}/strips"
    )
    meta = local_df(
        cells_df.sparkSession,
        [(origin_x, origin_y, dx, dy, width, height, nodata,
          rows_per_strip, list(bands))],
        "origin_x double, origin_y double, dx double, dy double, "
        "width int, height int, nodata double, rows_per_strip int, "
        "bands array<string>",
    )
    meta.write.mode("overwrite").parquet(f"{path}/meta")


def read_band(spark, path: str, band: str):
    """Reassemble one band into a numpy array (driver-side; the last
    step a GeoTIFF exporter would do)."""
    import numpy as np

    meta = spark.read.parquet(f"{path}/meta").first()
    w, h = meta["width"], meta["height"]
    arr = np.full(h * w, meta["nodata"], dtype=np.float64)
    rows = (
        spark.read.parquet(f"{path}/strips")
        .filter(F.col("band") == band)
        .select("row0", "values")
        .collect()
    )
    for r in rows:
        start = r["row0"] * w
        vals = np.asarray(r["values"], dtype=np.float64)
        arr[start:start + len(vals)] = vals
    return arr.reshape(h, w), meta


def catalog_version_rows() -> list[tuple[str, str]]:
    """(grid_id, md5-of-definition) per grid — the S9 per-grid hash."""
    rows = []
    for grid_id in sorted(catalog.GRID_PLANES):
        a, b, c = catalog.GRID_PLANES[grid_id]
        payload = f"{grid_id}|{a!r}|{b!r}|{c!r}".encode()
        rows.append((grid_id, hashlib.md5(payload).hexdigest()))
    return rows


def catalog_version() -> str:
    """One fingerprint for the whole catalog (grid set + polygons +
    sigmas), the analog of the vdatum version id the reference caches
    (core.py:1109-1147)."""
    h = hashlib.md5()
    for grid_id, ghash in catalog_version_rows():
        h.update(ghash.encode())
    for r in catalog.REGIONS:
        h.update(f"{r.region_id}|{r.region_ord}|{r.wkt}|{r.geoid}".encode())
    for rid in sorted(catalog.SIGMAS):
        for d in sorted(catalog.SIGMAS[rid]):
            h.update(f"{rid}|{d}|{catalog.SIGMAS[rid][d]!r}".encode())
    return h.hexdigest()
