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
the worker reader (``_pyworker._coords``) turns the batch's ``parts``
buffers into flat x/y arrays plus part and geometry offsets, the
kernel runs once (the analog of the reference's single
``proj_trans_array`` FFI call for a LineString,
src/geo_types.rs:152-155), and ``_pyworker._nested`` rebuilds the
column from the same offsets.  No shuffle, no per-row or per-point
Python.  A null geometry (or null ``parts``) reads as one with no
points: it stays null through a transform and has null bounds.
"""

from __future__ import annotations

from typing import Iterable, Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, StringType,
                               StructField, StructType)

from .._pyworker import _coords, _doubles, _fields, _nested
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
# GEOMETRY_DDL and the bounds as Spark types, built here once: a DDL
# string in ``arrow_udf`` goes through the JVM's parser at every construct
_GEOMETRY_TYPE = StructType([
    StructField("kind", StringType()),
    StructField("parts", ArrayType(ArrayType(ArrayType(DoubleType())))),
    StructField("offsets", ArrayType(IntegerType())),
])
_BOUNDS_TYPE = StructType([StructField(n, DoubleType())
                           for n in ("minx", "miny", "maxx", "maxy")])
# the same layout as an Arrow type, for batches built in Python
_GEOMETRY_ARROW = pa.struct([
    ("kind", pa.string()),
    ("parts", pa.list_(pa.list_(pa.list_(pa.float64())))),
    ("offsets", pa.list_(pa.int32())),
])


# -- constructors (driver-side row values) ---------------------------------
def _xy(pts) -> list:
    """A point sequence as a list of ``[x, y]`` floats."""
    a = np.asarray(list(pts), dtype=np.float64)
    return a.reshape(len(a), 2).tolist()


def geom_point(x: float, y: float) -> dict:
    return {"kind": "Point", "parts": [_xy([(x, y)])], "offsets": None}


def geom_multipoint(pts) -> dict:
    return {"kind": "MultiPoint", "parts": [_xy(pts)], "offsets": None}


def geom_linestring(pts) -> dict:
    return {"kind": "LineString", "parts": [_xy(pts)], "offsets": None}


def geom_polygon(rings) -> dict:
    return {"kind": "Polygon", "parts": [_xy(r) for r in rings],
            "offsets": None}


def geom_multipolygon(polygons) -> dict:
    parts, offsets = [], []
    for rings in polygons:
        offsets.append(len(parts))
        parts.extend(_xy(r) for r in rings)
    return {"kind": "MultiPolygon", "parts": parts, "offsets": offsets}


def geom_multilinestring(lines) -> dict:
    """One part per line (dispatch analog of the reference's
    MultiLineString arm, /root/reference/src/geo_types.rs:58-84)."""
    return {"kind": "MultiLineString", "parts": [_xy(ln) for ln in lines],
            "offsets": None}


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
    return {"kind": "Rect", "parts": [_xy([min_xy, max_xy])],
            "offsets": None}


def geom_triangle(p1, p2, p3) -> dict:
    return {"kind": "Triangle", "parts": [_xy([p1, p2, p3])],
            "offsets": None}


# -- vectorized transform ---------------------------------------------------
def _transform_geom_batch(g: pa.StructArray, t: Transform,
                          errors: str) -> pa.StructArray:
    """One Arrow batch of geometries through ``t``: every coordinate in
    one runner call; strict is all-or-nothing, like the reference's
    array path (src/proj.rs:1259)."""
    f = _fields(g)
    c = _coords(f["parts"])
    tx, ty = t._run(c.x, c.y, errors=errors)[:2] if len(c.x) else (c.x, c.y)
    parts = _nested(tx, ty, c.part_off, c.geom_off, f["parts"].is_valid())
    return pa.StructArray.from_arrays(
        [f["kind"], parts, f["offsets"]], ["kind", "parts", "offsets"],
        mask=g.is_null())


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

    @arrow_udf(_GEOMETRY_TYPE)
    def _udf(g: pa.Array) -> pa.Array:
        # proj_udf's cache key: a worker builds each transform once
        return _transform_geom_batch(g, _cached_transform(spec, opts),
                                     errors)

    return df.withColumn(geom_col, _udf(F.col(geom_col)))


def _bounds_batch(g: pa.StructArray) -> pa.StructArray:
    """Per-geometry min/max of x and y over all its points; NaN (null)
    for a geometry without points, NaN when any coordinate is."""
    c = _coords(_fields(g)["parts"])
    first = c.part_off[c.geom_off]  # each geometry's first point
    has = np.diff(first) > 0
    cols = []
    for v, fn in ((c.x, np.minimum), (c.y, np.minimum),
                  (c.x, np.maximum), (c.y, np.maximum)):
        out = np.full(len(has), np.nan)
        out[has] = fn.reduceat(v, first[:-1][has]) if len(v) else v
        cols.append(_doubles(out))
    return pa.StructArray.from_arrays(cols, ["minx", "miny", "maxx", "maxy"])


def geom_bounds_udf():
    """Arrow UDF: geometry -> struct<minx,miny,maxx,maxy> (feeds the
    same pruning path as transform_bounds, O9)."""

    @arrow_udf(_BOUNDS_TYPE)
    def _bounds(g: pa.Array) -> pa.Array:
        return _bounds_batch(g)

    return _bounds
