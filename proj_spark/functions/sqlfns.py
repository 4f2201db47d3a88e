"""SQL-surface registration: use the engine from plain ``spark.sql``.

Two registration classes:

  * **SQL UDFs (macros)** — ``cell_id``, ``cell_parent``, ``tile_x``,
    ``tile_y``, ``haversine_m`` are created with
    ``CREATE TEMPORARY FUNCTION ... RETURN <expr>``: the body INLINES
    into the caller's plan, so these stay inside whole-stage codegen
    exactly like their Column-API twins (cells.cell_col etc.) — no
    Python worker, no UDF call overhead.
  * **Python UDFs** — ``proj_transform(x, y, src, dst)`` and
    ``geodesic_m`` need the numpy kernels, so they register as
    ``arrow_udf``s reading their columns through the worker reader
    (``_pyworker._floats``); ``proj_transform`` returns
    ``struct<x,y,err>``, its rows grouped by (src, dst) within each
    batch and run through the per-worker transform cache (one kernel
    call per CRS pair per batch).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession
from pyspark.sql.functions import arrow_udf

from .._pyworker import _doubles, _floats

__all__ = ["register_sql_functions"]

def _sql_spread(v: str) -> str:
    """Morton spread of the 30-bit index ``v``: ``cells._col_spread``'s
    6-bit multiply chunks (see the ``cells`` docstring), five of them,
    since ``cell_id``'s level is a runtime argument (<= 26 bits) and the
    geohash index is 30 bits; each chunk names ``v`` once."""
    return "(" + " | ".join(
        f"shiftleft(shiftright(((shiftright({v}, {k}) & 63L) * 1090785345L"
        f" & 34630287489L) * 34636833L, 25) & 1365L, {2 * k})"
        for k in range(0, 30, 6)) + ")"


def _sql_ij(coord: str, off: float, span: float) -> str:
    n = "shiftleft(1L, level)"
    return (f"CAST(greatest(0L, least({n} - 1L, "
            f"CAST(floor((({coord}) + {off!r}) / {span!r}"
            f" * CAST({n} AS DOUBLE)) AS BIGINT))) AS BIGINT)")


def register_sql_functions(spark: SparkSession) -> None:
    """Idempotently register the SQL surface on this session."""
    ix = _sql_ij("lon", 180.0, 360.0)
    iy = _sql_ij("lat", 90.0, 180.0)
    # bit-identical to cells.cell_col (parity tested)
    spark.sql(f"""
CREATE OR REPLACE TEMPORARY FUNCTION cell_id(lon DOUBLE, lat DOUBLE, level INT)
RETURNS BIGINT
RETURN shiftleft({_sql_spread(ix)} | shiftleft({_sql_spread(iy)}, 1), 5)
       | CAST(level AS BIGINT)
""")
    spark.sql("""
CREATE OR REPLACE TEMPORARY FUNCTION cell_parent(cell BIGINT, level INT,
                                                 parent_level INT)
RETURNS BIGINT
RETURN shiftleft(shiftrightunsigned(shiftrightunsigned(cell, 5),
                                    2 * (level - parent_level)), 5)
       | CAST(parent_level AS BIGINT)
""")
    spark.sql("""
CREATE OR REPLACE TEMPORARY FUNCTION tile_x(lon DOUBLE, zoom INT)
RETURNS INT
RETURN CAST(greatest(0L, least(shiftleft(1L, zoom) - 1L,
  CAST(floor((lon + 180.0d) / 360.0d
       * CAST(shiftleft(1L, zoom) AS DOUBLE)) AS BIGINT))) AS INT)
""")
    max_lat = math.degrees(math.atan(math.sinh(math.pi)))
    spark.sql(f"""
CREATE OR REPLACE TEMPORARY FUNCTION tile_y(lat DOUBLE, zoom INT)
RETURNS INT
RETURN CAST(greatest(0L, least(shiftleft(1L, zoom) - 1L,
  CAST(floor((1.0d - ln(tan({math.pi / 4.0!r}d
       + radians(greatest({-max_lat!r}d, least({max_lat!r}d, lat))) / 2.0d))
       / {math.pi!r}d) / 2.0d
       * CAST(shiftleft(1L, zoom) AS DOUBLE)) AS BIGINT))) AS INT)
""")
    # -greatest(-1, -sqrt(h)) is min(1, sqrt(h)) keeping a NaN, as in
    # joins.haversine_col: least(1, NaN) would be 1 (half the circumference)
    spark.sql("""
CREATE OR REPLACE TEMPORARY FUNCTION haversine_m(
    lon1 DOUBLE, lat1 DOUBLE, lon2 DOUBLE, lat2 DOUBLE)
RETURNS DOUBLE
RETURN 2.0d * 6371008.8d * asin(-greatest(-1.0d, -sqrt(
  pow(sin((radians(lat2) - radians(lat1)) / 2.0d), 2)
  + cos(radians(lat1)) * cos(radians(lat2))
    * pow(sin((radians(lon2) - radians(lon1)) / 2.0d), 2))))
""")

    # geohash: compute the FULL 12-char (60-bit) hash inline, then
    # take the prefix — geohash prefixes nest, so substr(gh12, 1, p)
    # is exactly the precision-p hash (parity-tested vs geohash_col)
    ghx = _sql_ij("lon", 180.0, 360.0).replace(
        "shiftleft(1L, level)", "1073741824L")  # 2^30
    ghy = _sql_ij("lat", 90.0, 180.0).replace(
        "shiftleft(1L, level)", "1073741824L")
    gh_v = f"({_sql_spread(ghy)} | shiftleft({_sql_spread(ghx)}, 1))"
    gh_chars = " || ".join(
        "substr('0123456789bcdefghjkmnpqrstuvwxyz', "
        f"CAST(shiftrightunsigned({gh_v}, {5 * (12 - 1 - i)}) & 31L AS INT)"
        " + 1, 1)"
        for i in range(12)
    )
    spark.sql(f"""
CREATE OR REPLACE TEMPORARY FUNCTION geohash(
    lon DOUBLE, lat DOUBLE, precision INT)
RETURNS STRING
RETURN substr({gh_chars}, 1, precision)
""")

    @arrow_udf("double")
    def _geodesic_m(lon1: pa.Array, lat1: pa.Array,
                    lon2: pa.Array, lat2: pa.Array) -> pa.Array:
        from ..operators.geodesic import vincenty_inverse

        return _doubles(vincenty_inverse(
            _floats(lon1), _floats(lat1), _floats(lon2), _floats(lat2)))

    spark.udf.register("geodesic_m", _geodesic_m)

    @arrow_udf("x double, y double, err string")
    def _proj_transform(x: pa.Array, y: pa.Array, src: pa.Array,
                        dst: pa.Array) -> pa.Array:
        from .transform import get_transform

        n = len(x)
        ox = np.full(n, np.nan)
        oy = np.full(n, np.nan)
        oe = np.full(n, None, dtype=object)
        xs = _floats(x)
        ys = _floats(y)
        # one group per (src, dst) pair (a CRS text holds no NUL); a
        # row naming a null CRS keeps a null output
        pairs = pc.dictionary_encode(
            pc.binary_join_element_wise(src, dst, "\0"))
        group = pc.fill_null(pairs.indices, -1).to_numpy()
        for k, pair in enumerate(pairs.dictionary.to_pylist()):
            ii = np.flatnonzero(group == k)
            s, d = pair.split("\0", 1)
            try:
                t = get_transform((s, d))
            except Exception as ex:  # unknown CRS -> per-row error
                oe[ii] = f"create error: {ex}"
                continue
            tx, ty, te = t.convert_array(xs[ii], ys[ii], errors="mask")
            ox[ii] = tx
            oy[ii] = ty
            oe[ii] = te
        return pa.StructArray.from_arrays(
            [_doubles(ox), _doubles(oy), pa.array(oe, type=pa.string())],
            ["x", "y", "err"])

    spark.udf.register("proj_transform", _proj_transform)

    # UDTF surface (the table-function leg of the §2.2 UDF/UDAF/UDTF
    # row): ring_cells(cell, r) expands a cell id to its ring-r
    # neighbourhood, each cell once — a batch of one through
    # cells._np_block, the builder behind the kNN and radius rings —
    # usable in LATERAL joins for candidate generation:
    #   SELECT p.*, rc.cand_cell
    #   FROM points p, LATERAL ring_cells(p.cell, 1) rc
    from pyspark.sql.functions import udtf

    @udtf(returnType="cand_cell bigint")
    class _RingCells:
        def eval(self, cell, r):
            from ..operators.cells import _np_block, np_cell_decode

            if cell is None or r is None or r < 0:
                return
            ix, iy, level = np_cell_decode([cell])
            for c in _np_block(ix, iy, r, r, int(level[0]))[1]:
                yield (int(c),)

    spark.udtf.register("ring_cells", _RingCells)
