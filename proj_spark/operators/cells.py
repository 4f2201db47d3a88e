"""Hierarchical spatial cell index (S2/H3-style, quadtree variant).

A cell id is a 64-bit integer: ``(morton(ix, iy) << 5) | level`` where
``ix = floor((lon+180)/360 * 2^level)`` and ``iy = floor((lat+90)/180
* 2^level)``, level 0..26.  Z-order (Morton) interleaving gives the two
properties the distributed layer needs (BASELINE.json north_rule):

  * **hierarchy** — a child's morton prefixes its parent's, so
    ``parent = (morton >> 2*(L-L')) << 5 | L'`` and range predicates on
    cell prefixes prune partitions (the engine analog of the
    reference's Area bbox pruning, /root/reference/src/proj.rs:171-192);
  * **locality** — nearby points share long prefixes, so
    ``repartitionByRange`` on the cell column co-locates spatial
    neighborhoods.

Cell ids are computed on two sides, with identical bits:

  * as Spark ``Column`` expressions (pure JVM, whole-stage codegen —
    the hot path; no Python worker involved).  This is the ONE
    Column-side grid: :func:`_col_index` (clamped grid index) and
    :func:`_col_cell` (cell-id encoder) sit behind ``cell_col``, the
    geohash and tile-x columns;
  * as numpy functions.  Every candidate ring (the kNN and radius
    rings, the ``ring_cells`` UDTF) comes from one of them,
    :func:`_np_block`; the PIP cover, the tests and the DuckDB oracle
    builder use the rest.

Tests assert the two agree bit-for-bit.

The Morton spread (bit i -> bit 2i) differs between the two sides.
numpy runs the classic five mask-and-shift steps ``v = (v | v << s) &
mask``.  As a Column expression each of those steps names ``v`` twice,
so the tree doubles per step and one axis index is copied 32 times.
:func:`_col_spread` instead spreads 6 bits at a time by multiplication.
For a chunk ``b = (c >> k) & 0x3F``:

  * ``b * 0x41041041`` lays six copies of ``b`` 6 bits apart;
  * ``& 0x810204081`` keeps bit j of copy j, at bit 7j;
  * ``* 0x2108421`` adds six copies of those bits, 5 bits apart, so
    bit j lands at 7j + 5i for i = 0..5; these 36 positions are all
    distinct, so no addition carries, and i = 5 - j puts bit j at
    25 + 2j;
  * ``>> 25 & 0x555`` keeps exactly those, and ``<< 2k`` places the
    chunk.

Each chunk names ``c`` once, so a ``bits``-bit spread copies ``c``
ceil(bits/6) times, and every product stays below 2^62: nothing can
overflow a long under ANSI mode.

:func:`_col_compact` (bit 2i -> bit i) runs the same steps backwards,
5 bits per chunk ``b = (c >> 2k) & 0x155``: ``* 0x108421`` lays five
copies 5 bits apart (same-parity copies 10 apart, so none overlap),
``& 0x10204081`` keeps bit 2j of copy j at 7j, and ``* 0x1041041``
moves it to 24 + j (every other product bit falls outside 24..28, at
a distinct position, so nothing carries); products stay below 2^54.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "MAX_LEVEL",
    "cell_col",
    "cell_parent_col",
    "np_cell",
    "np_cell_parent",
    "np_cell_ring",
    "np_cell_to_lonlat",
    "cell_level_col",
]

MAX_LEVEL = 26  # 2*26 morton bits + 5 level bits = 57 <= 63

_MASKS = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


# ---------------------------------------------------------------------------
# numpy side
# ---------------------------------------------------------------------------
def _np_spread(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64)
    for shift, mask in _MASKS:
        v = (v | (v << shift)) & mask
    return v


def _np_compact(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64) & _MASKS[-1][1]
    for shift, mask in [(1, 0x3333333333333333), (2, 0x0F0F0F0F0F0F0F0F),
                        (4, 0x00FF00FF00FF00FF), (8, 0x0000FFFF0000FFFF),
                        (16, 0x00000000FFFFFFFF)]:
        v = (v | (v >> shift)) & mask
    return v


def _np_index(f, n: int) -> np.ndarray:
    """``floor(f)`` clamped to ``[0, n - 1]`` in the float domain, NaN
    to 0: the numpy twin of :func:`_col_index`'s clamp of Spark's
    ``floor`` (which maps +inf past ``n - 1`` and NaN to 0)."""
    return np.clip(np.nan_to_num(np.floor(f), nan=0.0), 0, n - 1).astype(np.int64)


def _np_ij(lon, lat, level):
    n = 1 << level
    return (_np_index((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n, n),
            _np_index((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n, n))


def np_cell(lon, lat, level: int) -> np.ndarray:
    """lon/lat degrees -> cell id at ``level``."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"cell level must be in [0, {MAX_LEVEL}], got {level}")
    ix, iy = _np_ij(lon, lat, level)
    morton = _np_spread(ix) | (_np_spread(iy) << 1)
    return (morton << 5) | np.int64(level)


def np_cell_decode(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    level = cell & 0x1F
    morton = cell >> 5
    return _np_compact(morton), _np_compact(morton >> 1), level


def np_cell_parent(cell, parent_level: int) -> np.ndarray:
    cell = np.asarray(cell, dtype=np.int64)
    level = cell & 0x1F
    morton = cell >> 5
    return ((morton >> (2 * (level - parent_level))) << 5) | np.int64(parent_level)


def np_cell_to_lonlat(cell) -> tuple[np.ndarray, np.ndarray]:
    """Cell center in degrees."""
    ix, iy, level = np_cell_decode(cell)
    n = (np.int64(1) << level).astype(np.float64)
    lon = (ix.astype(np.float64) + 0.5) / n * 360.0 - 180.0
    lat = (iy.astype(np.float64) + 0.5) / n * 180.0 - 90.0
    return lon, lat


def np_cell_ring(cell, r: int) -> np.ndarray:
    """All cells within Chebyshev distance ``r`` (the (2r+1)^2 block,
    ring-0 = the cell itself).  Longitude wraps; latitude clamps (rows
    outside the pole rows are dropped).  Returns shape (len, <= (2r+1)^2)
    with -1 padding for dropped cells."""
    ix, iy, level = np_cell_decode(np.atleast_1d(cell))
    n = np.int64(1) << level
    out = np.full((len(ix), (2 * r + 1) ** 2), -1, dtype=np.int64)
    k = 0
    for dx in range(-r, r + 1):
        for dy in range(-r, r + 1):
            jx = (ix + dx) % n
            jy = iy + dy
            ok = (jy >= 0) & (jy < n)
            m = _np_spread(jx) | (_np_spread(jy.clip(0)) << 1)
            c = (m << 5) | level
            out[:, k] = np.where(ok, c, -1)
            k += 1
    return out


def _np_block(ix, iy, rx, ry, level: int, max_rows: int | None = None):
    """Cell blocks at ``level`` around grid indices ``ix``/``iy``: for
    row i, the cells ``(ix + dx mod 2^level, iy + dy)`` with ``|dx| <=
    rx[i]`` and ``|dy| <= ry[i]`` (``rx``/``ry`` per row or scalar,
    >= 0).  Returns ``(row, cell)``, one entry per cell, ragged and
    grouped by row.  Longitude wraps, and a block as wide as the globe
    takes each column once; rows past a pole are dropped; so no cell
    repeats within a row.  ``None`` when the blocks hold more than
    ``max_rows`` cells, counted before any is built."""
    n = 1 << level
    ix, iy = np.asarray(ix, dtype=np.int64), np.asarray(iy, dtype=np.int64)
    rx, ry = (np.broadcast_to(np.asarray(v, dtype=np.int64), ix.shape)
              for v in (rx, ry))
    wx = np.minimum(2 * rx + 1, n)
    y0 = np.maximum(iy - ry, 0)
    wy = np.minimum(iy + ry, n - 1) - y0 + 1
    size = wx * wy
    if max_rows is not None and size.sum() > max_rows:
        return None
    row = np.repeat(np.arange(len(ix)), size)
    t = np.arange(len(row)) - np.repeat(np.cumsum(size) - size, size)
    jx = ((ix - rx)[row] + t // wy[row]) % n
    jy = y0[row] + t % wy[row]
    return row, ((_np_spread(jx) | (_np_spread(jy) << 1)) << 5) | np.int64(level)


# ---------------------------------------------------------------------------
# Spark Column side (pure JVM bit math — stays inside WholeStageCodegen)
# ---------------------------------------------------------------------------
def _col_spread(c: Column, bits: int = 32) -> Column:
    """Morton spread (bit i -> bit 2i) of the low ``bits`` bits of the
    non-negative long ``c``, 6 bits per chunk (module docstring); at
    least one chunk, so ``bits=0`` reads bit 0."""
    out = None
    for k in range(0, max(bits, 1), 6):
        b = (F.shiftright(c, k) if k else c).bitwiseAND(0x3F)
        s = F.shiftright(
            (b * 0x41041041).bitwiseAND(0x810204081) * 0x2108421,
            25).bitwiseAND(0x555)
        s = F.shiftleft(s, 2 * k) if k else s
        out = s if out is None else out.bitwiseOR(s)
    return out


def _col_compact(c: Column, bits: int) -> Column:
    """Morton compaction (bit 2i -> bit i), the inverse of
    :func:`_col_spread`: the low ``bits`` output bits from the
    non-negative long ``c``, 5 bits per chunk (module docstring), so
    ``c`` is named ceil(bits/5) times."""
    out = None
    for k in range(0, bits, 5):
        b = (F.shiftright(c, 2 * k) if k else c).bitwiseAND(0x155)
        s = F.shiftright(
            (b * 0x108421).bitwiseAND(0x10204081) * 0x1041041,
            24).bitwiseAND(0x1F)
        s = F.shiftleft(s, k) if k else s
        out = s if out is None else out.bitwiseOR(s)
    return out


def _col_index(v: Column, off: float, span: float, bits: int) -> Column:
    """Clamped grid index ``floor((v + off) / span * 2^bits)`` in
    ``[0, 2^bits - 1]`` — one axis of every Column-side grid (cells,
    geohash, slippy-map tile x)."""
    n = 1 << bits
    i = F.floor((v + off) / span * float(n))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), i)).cast("long")


def _col_ij(lon: Column, lat: Column, level: int) -> tuple[Column, Column]:
    return _col_index(lon, 180.0, 360.0, level), _col_index(lat, 90.0, 180.0, level)


def _col_cell(ix: Column, iy: Column, level: int) -> Column:
    """Cell id ``(morton(ix, iy) << 5) | level`` of grid-index Columns."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"cell level must be in [0, {MAX_LEVEL}], got {level}")
    morton = _col_spread(ix, level).bitwiseOR(
        F.shiftleft(_col_spread(iy, level), 1))
    return F.shiftleft(morton, 5).bitwiseOR(level)


def cell_col(lon: Column, lat: Column, level: int) -> Column:
    """Cell id Column from lon/lat degree Columns — JVM-side, no UDF."""
    return _col_cell(*_col_ij(lon, lat, level), level).alias("cell")


def cell_level_col(cell: Column) -> Column:
    return cell.bitwiseAND(F.lit(0x1F)).cast("int")


def cell_parent_col(cell: Column, level: int, parent_level: int) -> Column:
    """Parent cell at ``parent_level`` (hierarchy for rollups/pruning)."""
    morton = F.shiftrightunsigned(cell, 5)
    return F.shiftleft(
        F.shiftrightunsigned(morton, 2 * (level - parent_level)), 5
    ).bitwiseOR(F.lit(parent_level))
