"""Raster transform path (reference VyperRaster, raster.py:408-470).

A raster is represented cluster-natively as a cells-as-points
DataFrame (row, col, x, y, value[, unc]) — the raster→vector model
that replaces GDAL band arrays (SURVEY.md §1.1). The transform is the
same engine as points with the raster-specific semantics layered on:

- W2 count-ranked region precedence (raster.py:226-233): the region
  with the most valid cells overwrites last, NOT catalog order.
- apply-sep sign convention (raster.py:356-364): height input ⇒
  ``z' = flip·(value + sep)``; sounding (depth) input ⇒
  ``z' = flip·(value - sep)``.
- nodata handling (F3): nodata values map to null before transform
  and stay null after (raster.py:349-352, 365).
- out-of-coverage cells: nodata, or passthrough + CATZOC-D
  uncertainty when allowed (F6, raster.py:380-403).
- source uncertainty band adds to the datum uncertainty
  (raster.py:367-372); CATZOC keeps the larger of the two
  (raster.py:391-396).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datums import pipeline as pl
from . import transform as tx


def raster_to_points(
    spark: SparkSession,
    origin_x: float,
    origin_y: float,
    dx: float,
    dy: float,
    width: int,
    height: int,
    values: np.ndarray,
    nodata: float | None = None,
    unc: np.ndarray | None = None,
) -> DataFrame:
    """Explode a band array (geotransform-style origin/spacing) into
    the cells-as-points DataFrame. Cell centers, GDAL convention
    (origin = top-left corner, dy negative for north-up)."""
    rows, cols = np.meshgrid(np.arange(height), np.arange(width), indexing="ij")
    rows = rows.ravel()
    cols = cols.ravel()
    v = np.asarray(values, dtype=np.float64).reshape(height, width).ravel()
    if nodata is not None:
        v = np.where(v == nodata, np.nan, v)
    pdf = pd.DataFrame(
        {
            "cell_id": (rows.astype(np.int64) * width + cols).astype(np.int64),
            "row": rows.astype(np.int32),
            "col": cols.astype(np.int32),
            "x": origin_x + (cols + 0.5) * dx,
            "y": origin_y + (rows + 0.5) * dy,
            "value": v,
        }
    )
    if unc is not None:
        pdf["src_unc"] = np.asarray(unc, dtype=np.float64).reshape(height, width).ravel()
    return spark.createDataFrame(pdf)


def transform_raster_points(
    spark: SparkSession,
    cells_df: DataFrame,
    from_datum: str,
    to_datum: str,
    input_is_height: bool = True,
    allow_points_outside_coverage: bool = False,
    include_uncertainty: bool = True,
    tiles: DataFrame | None = None,
    knn_fallback: bool = False,
) -> DataFrame:
    """The full raster semantics over a cells-as-points DataFrame.

    Output columns: row, col, x, y, value, region_id, sep, z_out, unc,
    covered. Null `value` cells (nodata) stay null.
    """
    # F4 combined form (raster.py:356-364): flip once iff the band's
    # axis direction differs from the output datum's
    flip = 1.0 if input_is_height == pl.is_height(to_datum) else -1.0
    out = tx.transform_points(
        spark,
        cells_df,
        from_datum,
        to_datum,
        key_col="cell_id",
        z_col="value",
        tiles=tiles,
        allow_points_outside_coverage=allow_points_outside_coverage,
        include_uncertainty=include_uncertainty,
        precedence="count",  # W2: raster stacking order
        knn_fallback=knn_fallback,
    )
    value = F.col("value")
    sep = F.col("sep")
    covered = F.col("covered")
    flipc = F.lit(flip)
    # apply-sep sign convention (raster.py:356-364)
    applied = value + sep if input_is_height else value - sep
    z_cov = F.round(flipc * applied, 3)
    if allow_points_outside_coverage:
        z_out = F.when(covered, z_cov).otherwise(F.round(flipc * value, 3))
    else:
        z_out = F.when(covered, z_cov)
    # nodata passthrough (F3): null value stays null
    out = out.withColumn("z_out", F.when(value.isNotNull(), z_out))
    if include_uncertainty:
        # CATZOC-D over the band's HEIGHT-axis value (raster.py:384-390
        # negates a sounding band before the 3 − 0.06·z formula) — the
        # engine's _finalize derived this from from_datum's axis, which
        # may differ from the band's
        z_h = value if input_is_height else -value
        catzoc = F.when(z_h > 0, F.lit(3.0)).otherwise(
            F.lit(3.0) - F.lit(0.06) * z_h
        )
        base_unc = F.when(covered, F.col("unc")).otherwise(
            catzoc if allow_points_outside_coverage else F.lit(None)
        )
        if "src_unc" in cells_df.columns:
            # source band unc adds to datum unc (raster.py:367-372);
            # CATZOC keeps the larger (raster.py:391-396). When
            # passthrough is NOT allowed, uncovered cells are nodata —
            # unc stays null (F.greatest would skip the null CATZOC arm
            # and leak src_unc through)
            if allow_points_outside_coverage:
                combined = F.when(
                    covered, base_unc + F.col("src_unc")
                ).otherwise(F.greatest(base_unc, F.col("src_unc")))
            else:
                combined = F.when(covered, base_unc + F.col("src_unc"))
            out = out.withColumn("unc", F.when(value.isNotNull(), combined))
        else:
            out = out.withColumn("unc", F.when(value.isNotNull(), base_unc))
    return out


def points_to_band(pdf: pd.DataFrame, width: int, height: int,
                   col: str = "z_out", nodata: float = np.nan) -> np.ndarray:
    """Reassemble a transformed cells DataFrame (pandas) into a 2-D
    band array — the inverse of raster_to_points for tests/export."""
    band = np.full(height * width, nodata, dtype=np.float64)
    idx = (pdf["row"].to_numpy().astype(np.int64) * width
           + pdf["col"].to_numpy().astype(np.int64))
    vals = pdf[col].to_numpy(dtype=np.float64)
    band[idx] = vals
    return band.reshape(height, width)
