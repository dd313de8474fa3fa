"""Reference-compatible facade: VyperPoints / VyperRaster.

Drop-in call shapes for users of the reference
(`vyperdatum.points.VyperPoints.transform_points`, points.py:24-102;
`vyperdatum.raster.VyperRaster`, raster.py:408-470): numpy arrays in,
numpy arrays out, same parameter names — the Spark engine runs
underneath. For DataFrame-scale work call ``engine.transform`` /
``engine.raster`` directly; this facade exists so reference call
sites port 1:1.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from .datums import pipeline as pl, resolve, vypercrs
from .engine import raster as vr, transform as tx
from .spatial import cells


def _sample_res(sample_distance: float) -> int:
    """Smallest cell resolution whose cell size ≤ sample_distance
    (degrees) — the facade's mapping of the reference's 2-D binning
    grid onto the engine's cell index."""
    for res in range(1, 29):
        if cells.cell_size_deg(res) <= sample_distance:
            return res
    return 28


class VyperPoints:
    """points.py:9-118 facade. After ``transform_points``: attributes
    x, y, z, unc, region_index (numpy, input order; NaN/-1 where
    uncovered), in_wkt/out_wkt lineage artifacts."""

    def __init__(self, spark: SparkSession | None = None,
                 silent: bool = True):
        if spark is None:
            from .session import get_spark

            spark = get_spark(app_name="vyperpoints")
        self.spark = spark
        self.x = self.y = self.z = self.unc = self.region_index = None
        self.out_wkt = None

    def transform_points(self, input_datum, output_datum,
                         x, y, z=None,
                         include_vdatum_uncertainty: bool = True,
                         include_region_index: bool = False,
                         sample_distance: float | None = None):
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        z = (np.zeros_like(x) if z is None
             else np.asarray(z, dtype=np.float64))
        pdf = pd.DataFrame({"pid": np.arange(len(x), dtype=np.int64),
                            "x": x, "y": y, "z": z})
        pts = self.spark.createDataFrame(pdf)

        from_v, to_v, in_crs, out_frame = tx.resolve_specs(
            input_datum, output_datum)
        kwargs = dict(
            key_col="pid",
            include_uncertainty=include_vdatum_uncertainty,
            input_crs=in_crs,
            output_frame=out_frame,
        )
        if sample_distance:
            out = tx.transform_points_sampled(
                self.spark, pts, from_v, to_v,
                res=_sample_res(sample_distance), **kwargs,
            )
        else:
            out = tx.transform_points(self.spark, pts, from_v, to_v, **kwargs)

        cols = set(out.columns)
        res = out.toPandas().sort_values("pid").reset_index(drop=True)
        self.x = (res["x_out"] if "x_out" in cols else
                  res["x_geo"] if "x_geo" in cols else res["x"]).to_numpy()
        self.y = (res["y_out"] if "y_out" in cols else
                  res["y_geo"] if "y_geo" in cols else res["y"]).to_numpy()
        self.z = res["z_out"].to_numpy(dtype=np.float64)
        if include_vdatum_uncertainty:
            self.unc = res["unc"].to_numpy(dtype=np.float64)
        if include_region_index:
            self.region_index = (
                res["region_ord"].fillna(-1).to_numpy(dtype=np.int64)
            )
        self.out_wkt = vypercrs.lineage_wkt(from_v, to_v, input_crs=in_crs)
        return self.x, self.y, self.z, self.unc, self.region_index

    def export_to_csv(self, output_file: str, delimiter: str = " "):
        """points.py:104-118: space-delimited x, y, z [, unc, region]."""
        dset_vars = [v for v in
                     [self.x, self.y, self.z, self.unc, self.region_index]
                     if v is not None]
        np.savetxt(output_file, np.column_stack(dset_vars),
                   delimiter=delimiter, comments="")


class VyperRaster:
    """raster.py facade: band arrays in, transformed band arrays out
    (W2 count precedence, nodata passthrough, CATZOC out-of-coverage)."""

    def __init__(self, spark: SparkSession | None = None,
                 silent: bool = True):
        if spark is None:
            from .session import get_spark

            spark = get_spark(app_name="vyperraster")
        self.spark = spark
        self.elevation = self.uncertainty = None

    def transform_raster(self, input_datum, output_datum,
                         origin_x: float, origin_y: float,
                         dx: float, dy: float,
                         values: np.ndarray,
                         nodata: float | None = None,
                         input_is_height: bool = True,
                         allow_points_outside_coverage: bool = False,
                         include_uncertainty: bool = True):
        values = np.asarray(values, dtype=np.float64)
        height, width = values.shape
        from_v, _ = resolve.resolve_vertical(input_datum, "input")
        to_v, _ = resolve.resolve_vertical(output_datum, "output")
        cells_df = vr.raster_to_points(
            self.spark, origin_x, origin_y, dx, dy, width, height,
            values, nodata=nodata,
        )
        out = vr.transform_raster_points(
            self.spark, cells_df, from_v, to_v,
            input_is_height=input_is_height,
            allow_points_outside_coverage=allow_points_outside_coverage,
            include_uncertainty=include_uncertainty,
        ).toPandas()
        fill = nodata if nodata is not None else np.nan
        self.elevation = vr.points_to_band(out, width, height,
                                           col="z_out", nodata=fill)
        if include_uncertainty:
            self.uncertainty = vr.points_to_band(out, width, height,
                                                 col="unc", nodata=fill)
        return self.elevation, self.uncertainty
