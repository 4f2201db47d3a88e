"""Spark column functions for coordinate transformation.

The reference's batch path — marshal N points, one FFI call
(``proj_trans_array``, /root/reference/src/proj.rs:1210-1274) — maps
here to ONE Arrow batch per ``arrow_udf`` invocation: Spark hands the
Python worker each column chunk's own Arrow buffers, the numpy kernel
transforms them in a single vectorized call, and the result returns as
an Arrow struct column.  No per-row Python ever runs (input_hint
contract, /root/repo/BASELINE.json:15).

One batch body: every transform UDF here (``proj_udf``,
``projstring_udf``, ``projstring_udf3``) is a thin closure around
:func:`_transform_frame`, which reads the columns through the worker
reader (``_pyworker._floats``: float64, NaN for null), applies the
degree handling, runs ``Transform._run`` (the one runner; a 2D UDF is
its ``z=None`` case) and builds the output struct (an invalid or NaN
coordinate leaves as null).  The ``errors`` mode is checked when a UDF
is built, not per batch.

Per-worker transform cache: the reference keeps one PROJ context per
thread because context setup dominates construction cost
(reference src/context.rs:84-89).  Our analog is
``_TRANSFORM_CACHE``, a module-level memo keyed by the transform spec
alone (the proj string, or the CRS pair plus its options), so every
surface naming the same transform — these UDFs, ``transform_geometry``
and the SQL ``proj_transform`` — shares one build per worker.  The UDF
closures are pickled by value, and cloudpickle would copy a global dict
they name into every task's command, so they reach the cache only
through :func:`_cached_transform`, which is pickled by reference (like
:func:`_transform_frame`): in a Python worker it is this module's
function and the dict is this module's, kept for the life of the
(reused) worker.  Kernel setup, grid loading included, runs once per
worker process, not once per task or batch.
"""

from __future__ import annotations

from typing import Optional, Union

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from .._pyworker import _doubles, _floats
from ..crs import Transform, _check_errors

__all__ = [
    "proj_udf",
    "projstring_udf",
    "projstring_udf3",
    "with_transformed",
    "transform_crs_to_crs",
    "get_transform",
]

# the transform UDFs' return types, built here once: a DDL string in
# ``arrow_udf`` goes through the JVM's parser at every construct
_XY_ERR = StructType([StructField(n, DoubleType()) for n in ("x", "y")]
                     + [StructField("err", StringType())])
_XYZ_ERR = StructType([StructField(n, DoubleType()) for n in ("x", "y", "z")]
                      + [StructField("err", StringType())])

# per-Python-worker transform cache (reference thread-local context
# analog, reference src/context.rs:84-89); UDF bodies reach it
# only through _cached_transform
_TRANSFORM_CACHE: dict = {}


def _cached_transform(spec, options: tuple = ()) -> Transform:
    """The worker's one Transform for ``spec`` — a proj string /
    ``AUTHORITY:CODE``, or a ``(src_crs, dst_crs)`` pair built by
    ``new_known_crs`` with the sorted ``options`` items — built on first
    use.  Nothing else goes into the key, so every surface naming the
    same transform shares one build."""
    key = (spec, options)
    t = _TRANSFORM_CACHE.get(key)
    if t is None:
        if isinstance(spec, tuple):
            t = Transform.new_known_crs(spec[0], spec[1], **dict(options))
        else:
            t = Transform.new(spec)
        _TRANSFORM_CACHE[key] = t
    return t


def get_transform(spec) -> Transform:
    """Resolve + memoize a Transform from a spec:
    "EPSG:A->EPSG:B" pair tuple, proj string, or Transform instance."""
    if isinstance(spec, Transform):
        return spec
    return _cached_transform(spec if isinstance(spec, str) else tuple(spec))


def _transform_frame(t: Transform, x: pa.Array, y: pa.Array,
                     z: Optional[pa.Array], inverse: bool, errors: str,
                     input_units: str) -> pa.StructArray:
    """One Arrow batch through ``t``: the body of every transform UDF.

    ``input_units="deg"`` feeds the kernel radians (and returns degrees
    from an inverse run); z, when given, is in the pipeline's vertical
    units and never rescaled.  Strict mode raises for the whole batch;
    its ``err`` column is all null."""
    xv = _floats(x)
    yv = _floats(y)
    zv = None if z is None else _floats(z)
    deg = input_units == "deg"
    if deg and not inverse:
        xv = np.radians(xv)
        yv = np.radians(yv)
    out = t._run(xv, yv, zv, forward=not inverse, errors=errors)
    ox, oy = out[:2]
    if deg and inverse:
        ox = np.degrees(ox)
        oy = np.degrees(oy)
    cols = {"x": _doubles(ox), "y": _doubles(oy)}
    if zv is not None:
        cols["z"] = _doubles(out[2])
    cols["err"] = (pa.array(out[-1], type=pa.string()) if errors == "mask"
                   else pa.nulls(len(xv), pa.string()))
    return pa.StructArray.from_arrays(list(cols.values()), list(cols))


def proj_udf(src_crs: str, dst_crs: str, errors: str = "mask",
             inverse: bool = False, **options):
    """Build an Arrow-batched UDF ``(x, y) -> struct<x,y,err>``
    for a CRS->CRS transform (the Spark surface of reference operators
    O5-O8, /root/reference/src/proj.rs:932-1123).

    errors="mask"  -> row-wise: NaN outputs + err message column
                      (scalable mode; engine extension)
    errors="strict"-> all-or-nothing per Arrow batch, matching the
                      reference's array semantics
                      (/root/reference/src/proj.rs:1259)
    any other value raises ``ValueError`` here, not per batch.
    """
    _check_errors(errors)
    spec = (src_crs, dst_crs)
    opts = tuple(sorted(options.items()))

    @arrow_udf(_XY_ERR)
    def _udf(x: pa.Array, y: pa.Array) -> pa.Array:
        return _transform_frame(_cached_transform(spec, opts), x, y, None,
                                inverse, errors, "unit")

    return _udf


def projstring_udf(definition: str, input_units: str = "deg",
                   inverse: bool = False, errors: str = "mask"):
    """Arrow-batched UDF for a raw proj-string transform (reference O1
    Proj::new + O5-O8; caller-owned coordinate order,
    /root/reference/src/proj.rs:986-991).

    input_units="deg" converts degrees->radians before the kernel (for
    single-projection geodetic input); "unit" feeds the pipeline as-is.
    Output is in the definition's CRS units.  ``errors`` as in
    :func:`proj_udf`.
    """
    _check_errors(errors)

    @arrow_udf(_XY_ERR)
    def _udf(x: pa.Array, y: pa.Array) -> pa.Array:
        return _transform_frame(_cached_transform(definition), x, y, None,
                                inverse, errors, input_units)

    return _udf


def projstring_udf3(definition: str, input_units: str = "deg",
                    inverse: bool = False, errors: str = "mask"):
    """Arrow-batched UDF ``(x, y, z) -> struct<x,y,z,err>`` for a
    z-carrying pipeline (vgridshift and friends; the reference sets z
    on every PJ_COORD, /root/reference/src/proj.rs:951-957, 1022-1030).
    z is in the pipeline's vertical units (meters for GTX geoids) and
    is untouched by ``input_units``; a row whose z comes out NaN is an
    invalid point."""
    _check_errors(errors)

    @arrow_udf(_XYZ_ERR)
    def _udf(x: pa.Array, y: pa.Array, z: pa.Array) -> pa.Array:
        return _transform_frame(_cached_transform(definition), x, y, z,
                                inverse, errors, input_units)

    return _udf


def with_transformed(
    df: DataFrame,
    src_crs: str,
    dst_crs: str,
    x_col: str = "lon",
    y_col: str = "lat",
    out_x: str = "x",
    out_y: str = "y",
    err_col: Optional[str] = "proj_err",
    errors: str = "mask",
    **options,
) -> DataFrame:
    """Append transformed coordinate columns to ``df`` (the engine's
    ``with_transformed`` operator, SURVEY.md §2.2 projections row).

    One extra struct column is produced then unpacked — Catalyst prunes
    the struct away, so the physical plan is scan -> ArrowEvalPython ->
    project with no shuffle.
    """
    udf = proj_udf(src_crs, dst_crs, errors=errors, **options)
    tmp = f"__proj_{out_x}_{out_y}"
    df = df.withColumn(tmp, udf(F.col(x_col).cast("double"),
                                F.col(y_col).cast("double")))
    df = df.withColumn(out_x, F.col(f"{tmp}.x")).withColumn(
        out_y, F.col(f"{tmp}.y"))
    if err_col is not None:
        df = df.withColumn(err_col, F.col(f"{tmp}.err"))
    return df.drop(tmp)


def transform_crs_to_crs(
    df: DataFrame,
    src_crs: str,
    dst_crs: str,
    x_col: str = "lon",
    y_col: str = "lat",
    **kwargs,
) -> DataFrame:
    """One-shot convenience mirroring the reference's
    ``Transform::transform_crs_to_crs`` (O11,
    /root/reference/src/transform.rs:87-124): build the CRS->CRS
    transform and apply it, replacing the coordinate columns."""
    return with_transformed(
        df, src_crs, dst_crs, x_col=x_col, y_col=y_col,
        out_x=x_col, out_y=y_col, **kwargs,
    )
