"""Z-order (Morton) spatial clustering key.

The cell index (`spatial/cells.py`) makes the transform a hash join;
this module makes the *storage layout* spatial. Rows written in
Morton order put spatially-adjacent cells into the same parquet
files, so a bbox predicate prunes at FILE level (min/max column
stats) before any scan — the difference between touching ~√f of the
files and touching all of them on a 100-TB tile/point table. This is
the same layout trick Delta/Iceberg expose as `OPTIMIZE ZORDER BY` /
`sort_order(z-order)`, built here from column math so it works on
plain parquet and the snapshot layer alike.

The interleave is the classic magic-number bit spread (public
domain "Interleave bits by Binary Magic Numbers", e.g. Stanford
Bit Twiddling Hacks) — a 16-bit mask and four shift/mask stages per
axis, pure int64 ops, with one builder per engine: Spark SQL text
(:func:`morton_spark_sql`, whole-stage codegen), DuckDB SQL
(:func:`morton_sql`) and numpy (:func:`morton_np`); the Spark and
DuckDB forms are tested bit for bit against numpy.

Reference analog: none — the reference reads whole GTX files; layout
locality is a cluster-scale concern it never faces.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import cells

# spread 16 bits to even positions (stage masks for int64 math)
_STAGES = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)
MORTON_BITS = 16  # 16 bits/axis → 32-bit key; cells.py idx fits at res ≤ 13


def _spread_spark_sql(x: str) -> str:
    out = f"({x} & 65535)"
    for sh, mask in _STAGES:
        out = f"(({out} | shiftleft({out}, {sh})) & {mask})"
    return out


def morton_spark_sql(ix: str, iy: str) -> str:
    """Morton key from integer cell coordinates (Spark SQL text)."""
    return f"({_spread_spark_sql(ix)} | shiftleft({_spread_spark_sql(iy)}, 1))"


def morton_from_lonlat_spark_sql(lon: str, lat: str,
                                 res: int = cells.COARSE_RES) -> str:
    return morton_spark_sql(*cells.cell_index_spark_sql(lon, lat, res))


def _spread_sql(x: str) -> str:
    # CAST: DuckDB << overflows on INT32 operands; force 64-bit math
    out = f"(CAST({x} AS BIGINT) & 65535)"
    for sh, mask in _STAGES:
        out = f"(({out} | ({out} << {sh})) & {mask})"
    return out


def morton_sql(ix: str, iy: str) -> str:
    return f"({_spread_sql(ix)} | ({_spread_sql(iy)} << 1))"


def morton_from_lonlat_sql(lon: str, lat: str,
                           res: int = cells.COARSE_RES) -> str:
    sz = cells.cell_size_deg(res)
    ix = f"CAST(FLOOR(({lon} + 180.0) / {sz!r}) AS BIGINT)"
    iy = f"CAST(FLOOR(({lat} + 90.0) / {sz!r}) AS BIGINT)"
    return morton_sql(ix, iy)


def _spread_np(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.int64) & 0xFFFF
    for sh, mask in _STAGES:
        x = (x | (x << sh)) & mask
    return x


def morton_np(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    return _spread_np(ix) | (_spread_np(iy) << 1)


def zorder_write(df: DataFrame, path: str, lon_col: str, lat_col: str,
                 n_files: int = 8, res: int = cells.COARSE_RES) -> None:
    """Write a point/tile table parquet in Morton order: range
    partition on the key (contiguous, disjoint key ranges per file)
    then sort within partitions. File-level lon/lat min/max stats
    become tight boxes instead of full-extent boxes, which is what
    lets a bbox filter skip files."""
    key = morton_from_lonlat_spark_sql(f"`{lon_col}`", f"`{lat_col}`", res)
    (
        df.withColumn("_z", F.expr(key))
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
