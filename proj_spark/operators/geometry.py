"""Geometry struct column codec + vectorized geometry transforms.

Spark mapping of the reference's geo-types layer
(/root/reference/src/geo_types.rs): a geometry is one struct column

    geom: struct<kind: string,
                 parts: array<array<array<double>>>,
                 offsets: array<int>>

``parts`` is a list of coordinate sequences (GeoJSON-shaped); meaning
per kind:

  Point / MultiPoint   one part listing the point(s)
  LineString           one part (the vertices)
  MultiLineString      one part per line
  Polygon              one part per ring (exterior first, then holes —
                       ring semantics per src/geo_types.rs:170-186)
  MultiPolygon         rings of all polygons concatenated; ``offsets``
                       holds the start index of each polygon's rings
  Rect                 one part with [min, max] — transformed by its 2
                       corner points ONLY, matching the reference
                       (src/geo_types.rs:279-285)
  Triangle             one part with the 3 vertices (src/geo_types.rs:292-306)
  GeometryCollection   not nested in a single struct; model as one row
                       per member geometry (dispatch analog of
                       src/geo_types.rs:58-84)

Transforming a geometry column is ONE Arrow stage (E3 in SURVEY.md §3):
flatten every coordinate in the batch into a single numpy array, run
the kernel once (the analog of the reference's single
``proj_trans_array`` FFI call for a LineString,
src/geo_types.rs:152-155), reshape back.  No shuffle, no per-row
Python.
"""

from __future__ import annotations

from typing import Iterable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..crs import Transform, _check_errors
from ..functions.transform import _cached_transform

__all__ = [
    "GEOMETRY_DDL",
    "geom_point",
    "geom_multipoint",
    "geom_linestring",
    "geom_polygon",
    "geom_multipolygon",
    "geom_rect",
    "geom_triangle",
    "geom_multilinestring",
    "geom_collection_rows",
    "transform_geometry",
    "geom_bounds_udf",
]

GEOMETRY_DDL = (
    "kind string, parts array<array<array<double>>>, offsets array<int>"
)


# -- constructors (driver-side row values) ---------------------------------
def geom_point(x: float, y: float) -> dict:
    return {"kind": "Point", "parts": [[[float(x), float(y)]]], "offsets": None}


def geom_multipoint(pts) -> dict:
    return {"kind": "MultiPoint",
            "parts": [[[float(x), float(y)] for x, y in pts]], "offsets": None}


def geom_linestring(pts) -> dict:
    return {"kind": "LineString",
            "parts": [[[float(x), float(y)] for x, y in pts]], "offsets": None}


def geom_polygon(rings) -> dict:
    return {
        "kind": "Polygon",
        "parts": [[[float(x), float(y)] for x, y in ring] for ring in rings],
        "offsets": None,
    }


def geom_multipolygon(polygons) -> dict:
    parts, offsets = [], []
    for rings in polygons:
        offsets.append(len(parts))
        parts.extend([[[float(x), float(y)] for x, y in ring] for ring in rings])
    return {"kind": "MultiPolygon", "parts": parts, "offsets": offsets}


def geom_multilinestring(lines) -> dict:
    """One part per line (dispatch analog of the reference's
    MultiLineString arm, /root/reference/src/geo_types.rs:58-84)."""
    return {
        "kind": "MultiLineString",
        "parts": [[[float(x), float(y)] for x, y in line] for line in lines],
        "offsets": None,
    }


def geom_collection_rows(geoms: Iterable[dict]) -> list[dict]:
    """GeometryCollection constructor: the struct model stores one
    geometry per value, so a collection materializes as one ROW per
    member with a shared collection index carried in ``offsets[0]`` —
    the relational analog of the reference's per-member dispatch
    (src/geo_types.rs:58-84).  Returns the member dicts (attach them
    with an id column via ``explode``)."""
    out = []
    for i, g in enumerate(geoms):
        member = dict(g)
        member["offsets"] = [i] + list(member.get("offsets") or [])
        out.append(member)
    return out


def geom_rect(min_xy, max_xy) -> dict:
    return {
        "kind": "Rect",
        "parts": [[[float(min_xy[0]), float(min_xy[1])],
                   [float(max_xy[0]), float(max_xy[1])]]],
        "offsets": None,
    }


def geom_triangle(p1, p2, p3) -> dict:
    return {
        "kind": "Triangle",
        "parts": [[[float(p[0]), float(p[1])] for p in (p1, p2, p3)]],
        "offsets": None,
    }


# -- vectorized transform ---------------------------------------------------
def _flatten_parts(parts: pd.Series):
    """Every coordinate of a batch of geometries as two flat float64
    arrays (one numpy array for the whole Arrow batch), plus each
    geometry's list of part lengths in points."""
    flat_x, flat_y, shapes = [], [], []
    for geom_parts in parts:
        part_lens = []
        for part in geom_parts:
            arr = np.array([np.asarray(p, dtype=np.float64) for p in part])
            if arr.size:
                flat_x.append(arr[:, 0])
                flat_y.append(arr[:, 1])
            part_lens.append(len(part))
        shapes.append(part_lens)
    if not flat_x:
        return np.array([]), np.array([]), shapes
    return np.concatenate(flat_x), np.concatenate(flat_y), shapes


def _transform_geom_batch(kind: pd.Series, parts: pd.Series,
                          offsets: pd.Series, t: Transform,
                          errors: str) -> pd.DataFrame:
    X, Y, shapes = _flatten_parts(parts)
    # one runner call for the batch; strict is all-or-nothing, like the
    # reference's array path (src/proj.rs:1259)
    TX, TY = t._run(X, Y, errors=errors)[:2] if len(X) else (X, Y)
    XY = np.column_stack([TX, TY])
    out_parts = []
    pos = 0
    for part_lens in shapes:
        g = []
        for ln in part_lens:
            g.append(XY[pos:pos + ln].tolist())
            pos += ln
        out_parts.append(g)
    return pd.DataFrame({
        "kind": kind.values,
        "parts": out_parts,
        "offsets": offsets.values,
    })


def transform_geometry(
    df: DataFrame,
    src_crs: str,
    dst_crs: str,
    geom_col: str = "geom",
    errors: str = "strict",
    **options,
) -> DataFrame:
    """Transform a geometry struct column between CRS (reference
    Transform::transform / transformed_crs_to_crs, O10/O11,
    /root/reference/src/transform.rs:6-124).

    Rect semantics preserved: only its 2 corners are transformed
    (src/geo_types.rs:279-285) — which falls out naturally since a Rect
    stores only its corners.
    """
    _check_errors(errors)
    spec = (src_crs, dst_crs)
    opts = tuple(sorted(options.items()))

    @pandas_udf(GEOMETRY_DDL)
    def _udf(g: pd.DataFrame) -> pd.DataFrame:
        # proj_udf's cache key: a worker builds each transform once
        return _transform_geom_batch(g["kind"], g["parts"], g["offsets"],
                                     _cached_transform(spec, opts), errors)

    return df.withColumn(geom_col, _udf(F.col(geom_col)))


def geom_bounds_udf():
    """pandas UDF: geometry -> struct<minx,miny,maxx,maxy> (feeds the
    same pruning path as transform_bounds, O9)."""

    @pandas_udf("minx double, miny double, maxx double, maxy double")
    def _bounds(g: pd.DataFrame) -> pd.DataFrame:
        X, Y, shapes = _flatten_parts(g["parts"])
        rows = []
        pos = 0
        for part_lens in shapes:
            n = sum(part_lens)
            if n:
                x, y = X[pos:pos + n], Y[pos:pos + n]
                rows.append((x.min(), y.min(), x.max(), y.max()))
            else:
                rows.append((np.nan, np.nan, np.nan, np.nan))
            pos += n
        return pd.DataFrame(rows, columns=["minx", "miny", "maxx", "maxy"])

    return _bounds
