"""Web-Mercator (slippy-map) raster tiling.

``lon/lat -> (zoom, tile_x, tile_y)`` using the same spherical Mercator
math as the Phase-0 kernel (EPSG:3857; the reference exercises the
projection at /root/reference/src/transform.rs:80-83) — but expressed
as pure JVM Column math (ln/tan), so tile assignment runs inside
whole-stage codegen with no Python worker.

Tile assignment + zoom-level rollups are the "raster<->vector tile
assignment" layer of the north rule (BASELINE.json:14).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cells import _col_index, _np_index

__all__ = [
    "MAX_MERC_LAT",
    "tile_x_col",
    "tile_y_col",
    "with_tiles",
    "np_tile",
    "tile_bounds",
    "tile_rollup",
]

# Web-Mercator latitude clamp: atan(sinh(pi)) in degrees
MAX_MERC_LAT = math.degrees(math.atan(math.sinh(math.pi)))  # 85.05112877980659


def _clamp_lat(lat: Column) -> Column:
    return F.greatest(F.lit(-MAX_MERC_LAT), F.least(F.lit(MAX_MERC_LAT), lat))


def tile_x_col(lon: Column, zoom: int) -> Column:
    return _col_index(lon, 180.0, 360.0, zoom).cast("int")


def tile_y_col(lat: Column, zoom: int) -> Column:
    n = float(1 << zoom)
    phi = F.radians(_clamp_lat(lat))
    # ln(tan(pi/4 + phi/2)) == asinh(tan(phi)); keep the log form so the
    # DuckDB oracle can mirror it token-for-token
    merc = F.log(F.tan(F.lit(math.pi / 4.0) + phi / F.lit(2.0)))
    ty = F.floor((F.lit(1.0) - merc / F.lit(math.pi)) / F.lit(2.0) * F.lit(n))
    return F.greatest(F.lit(0), F.least(F.lit((1 << zoom) - 1), ty)).cast("int")


def with_tiles(df: DataFrame, zoom: int, lon_col: str = "lon",
               lat_col: str = "lat") -> DataFrame:
    """Append zoom/tile_x/tile_y columns (raster<->vector assignment)."""
    return df.withColumns({
        "zoom": F.lit(zoom),
        "tile_x": tile_x_col(F.col(lon_col), zoom),
        "tile_y": tile_y_col(F.col(lat_col), zoom),
    })


def np_tile(lon, lat, zoom: int):
    """numpy mirror of the Column math (oracle/test parity)."""
    n = 1 << zoom
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_MERC_LAT, MAX_MERC_LAT)
    tx = _np_index((lon + 180.0) / 360.0 * n, n)
    merc = np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0))
    ty = _np_index((1.0 - merc / np.pi) / 2.0 * n, n)
    return tx.astype(np.int32), ty.astype(np.int32)


def tile_bounds(zoom: int, tx: int, ty: int) -> tuple[float, float, float, float]:
    """(west, south, east, north) degrees of a tile — driver-side helper
    for partition pruning, the engine analog of transform_bounds-based
    bbox pruning (/root/reference/src/proj.rs:1159-1205)."""
    n = 1 << zoom
    west = tx / n * 360.0 - 180.0
    east = (tx + 1) / n * 360.0 - 180.0

    def lat_of(yy):
        return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * yy / n))))

    return west, lat_of(ty + 1), east, lat_of(ty)


def tile_rollup(df: DataFrame, agg_cols=None) -> DataFrame:
    """Zoom-level rollup of per-tile stats (grouping-sets coverage,
    SURVEY.md §2.2): GROUP BY ROLLUP(zoom, tile_x, tile_y)."""
    aggs = [F.count(F.lit(1)).alias("n")]
    if agg_cols:
        aggs += [F.sum(F.col(c)).alias(f"sum_{c}") for c in agg_cols]
    return df.rollup("zoom", "tile_x", "tile_y").agg(*aggs)
