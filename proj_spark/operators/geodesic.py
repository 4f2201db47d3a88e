"""Ellipsoidal geodesic distance (Vincenty inverse, 1975).

The engine's spatial joins use spherical haversine (exactness-guarded
by the chord bound) — correct for ranking, but a training-data /
measurement pipeline also wants the true ellipsoidal distance.
Vincenty's inverse formulas (public: Vincenty, Survey Review XXIII
No 176, 1975) converge to sub-mm for all but near-antipodal pairs.

Design for oracle replication: the iteration runs a FIXED number of
steps (no data-dependent early exit), so the DuckDB twin
(``oracle.chain_vincenty_inverse``) can unroll the same steps as chain
CTEs and match values to the ulp.  12 iterations is far past
convergence (double-precision fixpoint is typically reached in 4-6)
for non-antipodal geometry; near-antipodal pairs (lambda > pi after
update) are reported as NaN rather than a wrong number — callers at
100 TB want a maskable error, not a silent 20000-km-off result.

All math is vectorized numpy over Arrow batches — one kernel call per
batch (the engine's O7 batching convention), no per-row Python.
:func:`_areas` and :func:`_lengths` read a geometry batch through
``_pyworker._coords`` and measure all its rings or lines in one pass;
:func:`geom_area_m2` and :func:`geom_length_m` are a batch of one, so
a Spark row equals its scalar call bit for bit.  The summation order
is fixed: ``np.sum`` per ring or line (:func:`_segment_sums`), then
left to right over a geometry's rings or parts (:func:`_running_sums`).
A null geometry measures NaN (null).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import arrow_udf

from proj_spark._pyworker import (_coords, _doubles, _fields, _floats,
                                  _level, _offsets, _ranges)
from proj_spark.geodesy import inverse_core

from .geometry import _GEOMETRY_ARROW

__all__ = ["vincenty_inverse", "geodesic_distance_udf",
           "with_geodesic_distance", "authalic_radius",
           "geom_area_m2", "with_geodesic_area", "sphere_ring_excess",
           "geom_length_m", "with_geodesic_length"]

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563


def vincenty_inverse(lon1, lat1, lon2, lat2,
                     a: float = _WGS84_A, f: float = _WGS84_F,
                     iters: int = 12):
    """Ellipsoidal inverse problem: distance in meters between
    (lon1, lat1) and (lon2, lat2) in degrees.  Vectorized; fixed
    ``iters`` Vincenty iterations; NaN for non-converging
    (near-antipodal) rows and exact 0.0 for coincident rows.

    Thin degree-interface wrapper over ``geodesy.inverse_core`` (the
    radians core shared with the aeqd projection kernel); the argument
    preparation below is numerically identical, term for term, to the
    pre-refactor form and to the SQL twin
    (``oracle.chain_vincenty_inverse``)."""
    lon1 = np.asarray(lon1, dtype=np.float64)
    lat1 = np.asarray(lat1, dtype=np.float64)
    lon2 = np.asarray(lon2, dtype=np.float64)
    lat2 = np.asarray(lat2, dtype=np.float64)
    s, _alpha1 = inverse_core(
        np.radians(lon2 - lon1), np.radians(lat1), np.radians(lat2),
        a=a, f=f, iters=iters)
    return s


def geodesic_distance_udf(a: float = _WGS84_A, f: float = _WGS84_F,
                          iters: int = 12):
    """Arrow UDF: (lon1, lat1, lon2, lat2) degrees -> ellipsoidal
    distance in meters."""

    @arrow_udf("double")
    def _dist(lon1: pa.Array, lat1: pa.Array,
              lon2: pa.Array, lat2: pa.Array) -> pa.Array:
        return _doubles(vincenty_inverse(
            _floats(lon1), _floats(lat1), _floats(lon2), _floats(lat2),
            a=a, f=f, iters=iters))

    return _dist


def with_geodesic_distance(df: DataFrame,
                           lon1: str = "lon", lat1: str = "lat",
                           lon2: str = "lon2", lat2: str = "lat2",
                           out: str = "geodesic_m",
                           a: float = _WGS84_A, f: float = _WGS84_F) -> DataFrame:
    udf = geodesic_distance_udf(a=a, f=f)
    return df.withColumn(
        out, udf(F.col(lon1), F.col(lat1), F.col(lon2), F.col(lat2)))


# ---------------------------------------------------------------------------
# geodesic polygon area
# ---------------------------------------------------------------------------
def _authalic_qp(es: float) -> float:
    from proj_spark.kernels import _qsfn

    if es == 0.0:
        return 2.0
    return float(_qsfn(np.array(1.0), np.sqrt(es), 1.0 - es))


def authalic_radius(a: float = _WGS84_A, f: float = _WGS84_F) -> float:
    """Radius of the sphere with the ellipsoid's surface area
    (WGS84: 6371007.1810 m)."""
    es = f * (2.0 - f)
    return a * np.sqrt(_authalic_qp(es) / 2.0)


def _authalic_beta(phi: np.ndarray, es: float) -> np.ndarray:
    """Geodetic -> authalic latitude (area-preserving sphere mapping).
    Computed on |phi| with the sign restored: q's log term is odd only
    analytically — evaluating both signs directly leaves an ulp-level
    asymmetry that shows up as ~1e-8 relative area error on
    south-pole-touching rings — and |sin phi| = 1 now lands on
    beta = pi/2 EXACTLY (q(1)/qp == 1 by construction)."""
    from proj_spark.kernels import _qsfn

    if es == 0.0:
        return phi
    qp = _authalic_qp(es)
    q = _qsfn(np.abs(np.sin(phi)), np.sqrt(es), 1.0 - es)
    return np.sign(phi) * np.arcsin(np.clip(q / qp, 0.0, 1.0))


def _segment_sums(v: np.ndarray, off: np.ndarray) -> np.ndarray:
    """``np.sum(v[off[i]:off[i + 1]])`` for every i, bit for bit: the
    segments of one length are summed as the rows of one 2D array, and
    numpy reduces each row the way it reduces a 1D array."""
    lens = np.diff(off)
    out = np.zeros(len(lens))
    order = np.argsort(lens, kind="stable")
    for rows in np.split(order, np.flatnonzero(np.diff(lens[order])) + 1):
        if len(rows) and lens[rows[0]]:
            out[rows] = v[off[rows][:, None]
                          + np.arange(lens[rows[0]])].sum(axis=1)
    return out


def _running_sums(v: np.ndarray, off: np.ndarray) -> np.ndarray:
    """Python's ``sum(v[off[i]:off[i + 1]])`` for every i: left to
    right from 0, one step per position over the segments that reach
    it."""
    lens = np.diff(off)
    out = np.zeros(len(lens))
    rows, j = np.flatnonzero(lens), 0
    while len(rows):
        out[rows] += v[off[rows] + j]
        j += 1
        rows = rows[lens[rows] > j]
    return out


def _edges(x: np.ndarray, y: np.ndarray, first: np.ndarray,
           lens: np.ndarray, close: np.ndarray):
    """Endpoint indices ``a -> b`` of every edge (consecutive points) of
    the point runs ``first[k] .. first[k] + lens[k] - 1``, plus, where
    ``close[k]`` and the run's first and last points differ, a closing
    edge back to its first point; returns ``a``, ``b`` and the
    per-run edge offsets."""
    last = first + lens - 1
    shut = close & (lens > 0)
    shut[shut] = ((x[first[shut]] != x[last[shut]])
                  | (y[first[shut]] != y[last[shut]]))
    n_open = np.maximum(lens - 1, 0)
    eoff = _offsets(n_open + shut)
    a = np.empty(eoff[-1], dtype=np.int64)
    a[_ranges(eoff[:-1], n_open)] = _ranges(first, n_open)
    b = a + 1
    end = eoff[1:][shut] - 1
    a[end], b[end] = last[shut], first[shut]
    return a, b, eoff


def _ring_excesses(lam: np.ndarray, beta: np.ndarray, first: np.ndarray,
                   lens: np.ndarray) -> np.ndarray:
    """:func:`sphere_ring_excess` of every ring ``first[i]`` ..
    ``first[i] + lens[i] - 1`` in one pass."""
    if (lens < 1).any():
        raise ValueError("a ring needs at least one point")
    a, b, eoff = _edges(lam, beta, first, lens, np.ones(len(lens), bool))
    t = np.tan(0.5 * beta)
    dl = lam[b] - lam[a]
    dl = (dl + np.pi) % (2.0 * np.pi) - np.pi  # shortest-arc edges
    if np.any(np.isclose(np.abs(dl), np.pi, rtol=0.0, atol=1e-12)):
        raise ValueError(
            "ring edge spans exactly 180 deg of longitude: the "
            "great-circle arc between antipodal longitudes is ambiguous "
            "— densify the ring so no edge spans a half circle")
    e = 2.0 * np.arctan2(np.tan(0.5 * dl) * (t[a] + t[b]),
                         1.0 + t[a] * t[b])
    winding = np.round(_segment_sums(dl, eoff) / (2.0 * np.pi))
    excess = _segment_sums(e, eoff) - winding * 2.0 * np.pi
    # orientation-free: a winding ring reports the smaller bounded
    # region (cap)
    a4pi = 4.0 * np.pi
    amt = np.abs(excess) % a4pi
    return np.where(winding != 0, np.minimum(amt, a4pi - amt), excess)


def sphere_ring_excess(lam: np.ndarray, beta: np.ndarray) -> float:
    """Signed spherical excess of a closed ring whose vertices are
    joined by GREAT-CIRCLE edges (GeographicLib's spherical edge
    accumulation): per edge, E = 2 atan2(tan(dl/2)(t1 + t2),
    1 + t1 t2) with t = tan(beta/2); area = excess * R^2.

    Pole-enclosing rings (total longitude winding != 0) get the
    standard 2*pi*winding transit correction: without it a ring
    circling a pole reports the equator-to-ring BELT instead of a
    region the ring actually bounds (GeographicLib's pole-crossing
    adjustment).  Because the engine's rings carry no orientation
    contract, a winding ring deterministically reports the SMALLER of
    the two regions it bounds (the polar cap), independent of
    traversal direction.

    Edges spanning EXACTLY 180 degrees of longitude are rejected: two
    vertices at antipodal longitudes are joined by infinitely many
    great-circle arcs (both half-meridians through either pole are
    shortest), so the bounded region — and the per-edge excess sign —
    is genuinely undefined; tan(dl/2) also blows up to ~1e16 there.
    Callers must densify such rings so no single edge spans a half
    circle (round-4 ADVICE).

    One ring through :func:`_ring_excesses`."""
    lam = np.asarray(lam, dtype=np.float64)
    beta = np.asarray(beta, dtype=np.float64)
    return float(_ring_excesses(lam, beta, np.array([0]),
                                np.array([len(lam)]))[0])


def _lat_band_area(lon_w, lon_e, lat_s, lat_n, a, es):
    """EXACT ellipsoid area of lon/lat rectangles (edges = meridians
    and PARALLELS): a^2/2 * dlam * (q(lat_n) - q(lat_s))."""
    from proj_spark.kernels import _qsfn

    dlam = np.radians(lon_e - lon_w)
    if es == 0.0:
        return (a * a * dlam
                * (np.sin(np.radians(lat_n)) - np.sin(np.radians(lat_s))))
    e, one_es = np.sqrt(es), 1.0 - es
    qn = _qsfn(np.sin(np.radians(lat_n)), e, one_es)
    qs = _qsfn(np.sin(np.radians(lat_s)), e, one_es)
    return 0.5 * a * a * dlam * (qn - qs)


def _batch_of_one(kind: str, parts, offsets) -> pa.StructArray:
    """One geometry struct row as an Arrow batch of one row."""
    return pa.array(
        [{"kind": kind,
          "parts": [np.asarray(p, dtype=np.float64).tolist() for p in parts],
          "offsets": None if offsets is None else list(offsets)}],
        type=_GEOMETRY_ARROW)


def _read(g: pa.StructArray, measure: str, kinds):
    """A geometry batch's kinds (object array, None for a null
    geometry), ``offsets`` column and coordinates; raises for a kind
    the measure is undefined for."""
    f = _fields(g)
    kind = f["kind"].to_numpy(zero_copy_only=False)
    bad = [k for k in kind if k is not None and k not in kinds]
    if bad:
        raise ValueError(f"geodesic {measure} undefined for kind {bad[0]!r}")
    return kind, f["offsets"], _coords(f["parts"])


def _rect_box(c, rows: np.ndarray):
    """``lon_w, lon_e, lat_s, lat_n`` of the Rect rows ``rows``, from
    their two corners (the first two points of the first part)."""
    part0 = c.geom_off[:-1][rows]
    if (c.geom_off[1:][rows] == part0).any() \
            or (np.diff(c.part_off)[part0] < 2).any():
        raise ValueError("a Rect needs its two corner points")
    p = c.part_off[part0]
    x1, y1, x2, y2 = c.x[p], c.y[p], c.x[p + 1], c.y[p + 1]
    return (np.minimum(x1, x2), np.maximum(x1, x2),
            np.minimum(y1, y2), np.maximum(y1, y2))


def _polygons(kind, offsets, n_parts, rows):
    """Each polygon of the polygon rows ``rows``, as ring positions
    within its row: one polygon of every ring for Polygon/Triangle,
    ``offsets`` (each polygon's first ring) for MultiPolygon.  Returns
    every polygon's first and end ring, its row, and the per-row
    polygon offsets."""
    multi = kind[rows] == "MultiPolygon"
    o_off, o_vals = _level(offsets)
    counts = np.where(multi, np.diff(o_off)[rows], 1)
    poff = _offsets(counts)
    starts = np.zeros(poff[-1], dtype=np.int64)
    starts[_ranges(poff[:-1][multi], counts[multi])] = pc.fill_null(
        o_vals, -1).to_numpy()[_ranges(o_off[:-1][rows][multi],
                                       counts[multi])]
    row_of = np.repeat(np.arange(len(rows)), counts)
    ends = n_parts[row_of]
    same_row = row_of[1:] == row_of[:-1]
    ends[:-1][same_row] = starts[1:][same_row]
    if ((starts < 0) | (ends <= starts) | (ends > n_parts[row_of])).any():
        raise ValueError("every polygon needs at least one ring")
    return starts, ends, row_of, poff


def _areas(g: pa.StructArray, a: float, f: float) -> np.ndarray:
    """:func:`geom_area_m2` of every row of a geometry batch."""
    kind, offsets, c = _read(
        g, "area", ("Rect", "Polygon", "Triangle", "MultiPolygon"))
    es = f * (2.0 - f)
    out = np.full(len(kind), np.nan)
    rect = np.flatnonzero(kind == "Rect")
    if len(rect):
        out[rect] = _lat_band_area(*_rect_box(c, rect), a, es)
    rows = np.flatnonzero(np.isin(kind, ("Polygon", "Triangle",
                                         "MultiPolygon")))
    if not len(rows):
        return out
    # every ring of the polygon rows
    n_parts = np.diff(c.geom_off)[rows]
    ring = _ranges(c.geom_off[:-1][rows], n_parts)
    ring_area = np.abs(_ring_excesses(
        np.radians(c.x), _authalic_beta(np.radians(c.y), es),
        c.part_off[ring], np.diff(c.part_off)[ring])) \
        * authalic_radius(a, f) ** 2
    # exterior minus holes per polygon, polygons summed per row
    starts, ends, row_of, poff = _polygons(kind, offsets, n_parts, rows)
    first = _offsets(n_parts)[row_of] + starts
    n_holes = ends - starts - 1
    poly = ring_area[first] - _running_sums(
        ring_area[_ranges(first + 1, n_holes)], _offsets(n_holes))
    out[rows] = _running_sums(poly, poff)
    return out


def geom_area_m2(kind: str, parts, offsets,
                 a: float = _WGS84_A, f: float = _WGS84_F) -> float:
    """Area in m^2 of one geometry struct row.

    Semantics: polygon vertices are joined by GREAT-CIRCLE edges
    (the geodesic-area convention); the computation runs on the
    authalic sphere (geodetic -> authalic latitude, radius
    ``authalic_radius``), which preserves the ellipsoid's total and
    zonal areas — the standard spherical-excess approach.  ``Rect``
    rows are lat/lon rectangles bounded by PARALLELS and use the exact
    closed-form ellipsoid band area instead.  MultiPolygon ``offsets``
    hold each polygon's first ring; a polygon is its first ring minus
    the rest.  :func:`_areas` on a batch of one."""
    return float(_areas(_batch_of_one(kind, parts, offsets), a, f)[0])


def with_geodesic_area(df: DataFrame, geom_col: str = "geom",
                       out: str = "area_m2",
                       a: float = _WGS84_A, f: float = _WGS84_F) -> DataFrame:
    """Arrow-batched geodesic polygon area over a geometry struct
    column: one :func:`_areas` call per batch — linear, shuffle-free
    (the O7 batching convention)."""

    @arrow_udf("double")
    def _area(g: pa.Array) -> pa.Array:
        return _doubles(_areas(g, a, f))

    return df.withColumn(out, _area(F.col(geom_col)))


def _lengths(g: pa.StructArray, a: float, f: float) -> np.ndarray:
    """:func:`geom_length_m` of every row of a geometry batch."""
    kind, _, c = _read(g, "length", (
        "Point", "MultiPoint", "LineString", "MultiLineString", "Polygon",
        "MultiPolygon", "Triangle", "Rect"))
    out = np.full(len(kind), np.nan)
    out[np.isin(kind, ("Point", "MultiPoint"))] = 0.0
    rect = np.flatnonzero(kind == "Rect")
    if len(rect):
        # consistent with geom_area_m2's Rect semantics (edges are
        # meridians and PARALLELS): 2 meridian arcs (the meridian IS
        # the geodesic) + the two parallel-arc lengths
        lon_w, lon_e, lat_s, lat_n = _rect_box(c, rect)
        es = f * (2.0 - f)
        mer = vincenty_inverse(lon_w, lat_s, lon_w, lat_n, a=a, f=f)

        def par_len(lat):
            phi = np.radians(lat)
            return (np.radians(lon_e - lon_w) * a * np.cos(phi)
                    / np.sqrt(1.0 - es * np.sin(phi) ** 2))

        out[rect] = 2.0 * mer + par_len(lat_s) + par_len(lat_n)
    rows = np.flatnonzero(np.isin(kind, (
        "LineString", "MultiLineString", "Polygon", "MultiPolygon",
        "Triangle")))
    if not len(rows):
        return out
    # every part of those rows; a ring part closes, and a part of one
    # point has no segment
    n_parts = np.diff(c.geom_off)[rows]
    part = _ranges(c.geom_off[:-1][rows], n_parts)
    closed = np.repeat(np.isin(kind[rows], (
        "Polygon", "MultiPolygon", "Triangle")), n_parts)
    i, j, eoff = _edges(c.x, c.y, c.part_off[part],
                        np.diff(c.part_off)[part], closed)
    s = vincenty_inverse(c.x[i], c.y[i], c.x[j], c.y[j], a=a, f=f)
    out[rows] = _running_sums(_segment_sums(s, eoff), _offsets(n_parts))
    return out


def geom_length_m(kind: str, parts, offsets,
                  a: float = _WGS84_A, f: float = _WGS84_F) -> float:
    """Geodesic length in meters of one geometry struct row: the sum
    of fixed-iteration Vincenty segment distances.  LineString /
    MultiLineString sum their open parts; Polygon / MultiPolygon sum
    CLOSED ring perimeters (exterior + holes).  :func:`_lengths` on a
    batch of one."""
    return float(_lengths(_batch_of_one(kind, parts, offsets), a, f)[0])


def with_geodesic_length(df: DataFrame, geom_col: str = "geom",
                         out: str = "length_m",
                         a: float = _WGS84_A, f: float = _WGS84_F) -> DataFrame:
    """Arrow-batched geodesic line length / ring perimeter over a
    geometry struct column (one :func:`_lengths` call per batch)."""

    @arrow_udf("double")
    def _length(g: pa.Array) -> pa.Array:
        return _doubles(_lengths(g, a, f))

    return df.withColumn(out, _length(F.col(geom_col)))
