"""Geohash encode/decode as pure JVM Column math.

Geohash (public domain, Niemeyer 2008) is the other ubiquitous
cell-index users expect next to Morton/quadkey cells: base-32 strings
whose prefixes nest, MSB-first bit interleave starting with LONGITUDE
(the opposite stream order of this engine's Morton cells, and with an
odd/even split when the bit count 5*precision is odd).

Everything is whole-stage-codegen Column bit math reusing the cell
grid's index and Morton spread/compact kernels (`cells._col_index`,
`cells._col_spread/_col_compact`; decoding compacts one character at
a time, so a decoded column names the string once per character and
axis) — no UDF, no Python — so geohash
columns cost the same as cell ids and push through shuffles/joins as
plain strings.  DuckDB twin: `oracle.sql_geohash`.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from .cells import _col_compact, _col_index, _col_spread

__all__ = ["GEOHASH32", "geohash_col", "geohash_decode_cols",
           "with_geohash"]

GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_col(lon: Column, lat: Column, precision: int = 8) -> Column:
    """Base-32 geohash string of (lon, lat) degrees at ``precision``
    characters (1..12; 12 = 60 bits, the full classic range)."""
    if not 1 <= precision <= 12:
        raise ValueError(f"precision must be in [1, 12], got {precision}")
    bits = 5 * precision
    n_lon = (bits + 1) // 2
    n_lat = bits // 2
    ix = _col_index(lon, 180.0, 360.0, n_lon)
    iy = _col_index(lat, 90.0, 180.0, n_lat)
    if bits % 2 == 0:
        # LSB of the combined word is a LATITUDE bit
        v = _col_spread(iy).bitwiseOR(F.shiftleft(_col_spread(ix), 1))
    else:
        v = _col_spread(ix).bitwiseOR(F.shiftleft(_col_spread(iy), 1))
    alphabet = F.array(*[F.lit(ch) for ch in GEOHASH32])
    parts = []
    for i in range(precision):
        d = F.shiftrightunsigned(v, 5 * (precision - 1 - i)).bitwiseAND(
            F.lit(31))
        parts.append(F.element_at(alphabet, (d + 1).cast("int")))
    return F.concat(*parts)


def geohash_decode_cols(gh: Column, precision: int) -> tuple[Column, Column]:
    """(lon, lat) cell-CENTER columns of a geohash string column.
    ``precision`` must match the string length (static plan shape)."""
    if not 1 <= precision <= 12:
        raise ValueError(f"precision must be in [1, 12], got {precision}")
    bits = 5 * precision
    n_lon = (bits + 1) // 2
    n_lat = bits // 2
    # character i holds bits base..base+4 of the interleaved word; its
    # bits at d's even and odd positions compact into the axis of
    # their word bit's parity, so each axis names each character once
    axes = [None, None]  # the word's even bits, its odd bits
    for i in range(precision):
        d = (F.instr(F.lit(GEOHASH32), F.substring(gh, i + 1, 1)) - 1
             ).cast("long")
        base = 5 * (precision - 1 - i)
        for t in (0, 1):
            q = base + t  # word bit q -> bit q // 2 of axis q % 2
            part = F.shiftleft(
                _col_compact(F.shiftright(d, t) if t else d, 3), q // 2)
            a = axes[q % 2]
            axes[q % 2] = part if a is None else a.bitwiseOR(part)
    # the word's LSB is a latitude bit when the bit count is even
    ix, iy = axes[::-1] if bits % 2 == 0 else axes
    lon = (ix.cast("double") + 0.5) / F.lit(float(1 << n_lon)) * 360.0 - 180.0
    lat = (iy.cast("double") + 0.5) / F.lit(float(1 << n_lat)) * 180.0 - 90.0
    return lon, lat


def with_geohash(df, lon_col: str = "lon", lat_col: str = "lat",
                 precision: int = 8, out: str = "geohash"):
    return df.withColumn(
        out, geohash_col(F.col(lon_col), F.col(lat_col), precision))
