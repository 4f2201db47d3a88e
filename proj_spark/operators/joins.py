"""Distributed spatial joins: point-in-polygon, kNN, cell equi-join.

The reference is a scalar transform library with NO relational
operators (SURVEY.md §2.2) — this module is the distributed layer the
north rule adds (BASELINE.json:14): cell-indexed joins with explicit
broadcast/partitioning/skew decisions.

Scale design (10^12-point table, 1000 executors):
  * polygons / query points are the SMALL side -> always broadcast;
    the big point table is never shuffled for PIP.
  * PIP reads the polygon layer once, in one eager executor pass that
    packs its edges and exterior-ring bboxes; the driver turns the
    bboxes into covering cells (numpy) and hands them to the join as a
    local relation, so the executed join plan never reads the layer.
  * candidate pruning is a JVM-side equi-join on the cell column —
    predicate-pushdown friendly and AQE-skew-splittable.
  * the exact geometric test runs vectorized per Arrow batch; each
    candidate carries its polygon's position in the broadcast edge
    arrays (no per-row Python; input_hint contract).  Its Python
    stages (edge pack, PIP test) read Arrow through ``_pyworker``:
    rings arrive as flat x/y plus offsets.
  * kNN correctness is guaranteed by a distance bound: a query's top-k
    from ring-r candidates is provably exact when its kth distance is
    below a conservative lower bound of the distance to the ring
    boundary; unguaranteed queries (rare) fall back to a broadcast
    brute-force pass, keeping the operator exact at any density.
"""

from __future__ import annotations

import functools
import math
from typing import NamedTuple, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.window import Window

from .._pyworker import Coords, _coords, _floats, _offsets, _ranges
from .cells import MAX_LEVEL, _np_block, _np_ij, _np_spread, cell_col

__all__ = [
    "EARTH_RADIUS_M",
    "haversine_col",
    "pip_join",
    "knn_join",
    "radius_join",
    "cell_equi_join",
    "pip_anti_join",
]

EARTH_RADIUS_M = 6371008.8  # mean Earth radius (IUGG)


def haversine_col(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in meters — pure JVM Column math so the
    kNN hot path stays in whole-stage codegen.  NaN when a coordinate
    is NaN or +-Inf."""
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dphi = (p2 - p1) / F.lit(2.0)
    dlam = (F.radians(lon2) - F.radians(lon1)) / F.lit(2.0)
    h = F.sin(dphi) * F.sin(dphi) + F.cos(p1) * F.cos(p2) * F.sin(dlam) * F.sin(dlam)
    # min(1, sqrt(h)) that keeps a NaN: Spark orders NaN above every
    # double, so least(1, NaN) is 1 (half the circumference) while
    # greatest(-1, NaN) is NaN; negation is exact, so finite bits match
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(
        -F.greatest(F.lit(-1.0), -F.sqrt(h)))


def _located(points: DataFrame, lon_col: str, lat_col: str) -> DataFrame:
    """The points whose lon and lat are both set.  ``greatest`` skips a
    NULL, so :func:`haversine_col` puts a NULL coordinate at pi R from
    everything; knn and radius drop such points before any cell."""
    return points.where(F.col(lon_col).isNotNull() & F.col(lat_col).isNotNull())


# ---------------------------------------------------------------------------
# point-in-polygon
# ---------------------------------------------------------------------------
def _np_point_in_rings(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Vectorized even-odd ray cast over all rings (holes flip parity).

    Geometry model mirrors the reference's polygon = exterior ring +
    interior rings, each a closed LineString
    (/root/reference/src/geo_types.rs:170-186).
    """
    inside = np.zeros(len(px), dtype=bool)
    for ring in rings:
        pts = np.asarray(ring, dtype=np.float64)
        if len(pts) < 3:
            continue
        x1, y1 = pts[:-1, 0], pts[:-1, 1]
        x2, y2 = pts[1:, 0], pts[1:, 1]
        # edges x points: (E, N) via broadcasting
        py_ = py[None, :]
        px_ = px[None, :]
        cond = (y1[:, None] > py_) != (y2[:, None] > py_)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1)[:, None] * (py_ - y1[:, None]) / (y2 - y1)[:, None] + x1[:, None]
        crossed = cond & (px_ < xint)
        inside ^= (crossed.sum(axis=0) % 2).astype(bool)
    return inside


def _ring_edges(c: Coords):
    """Every edge of a batch of polygons' rings (rings of >= 3 points;
    consecutive points, in ring order) as ``x1, y1, x2, y2`` plus each
    polygon's edge count."""
    n_pts = np.diff(c.part_off)
    n_edges = np.where(n_pts >= 3, n_pts - 1, 0)
    start = _ranges(c.part_off[:-1], n_edges)
    cum = _offsets(n_edges)
    return (c.x[start], c.y[start], c.x[start + 1], c.y[start + 1],
            cum[c.geom_off[1:]] - cum[c.geom_off[:-1]])


def _exterior_bbox(c: Coords) -> np.ndarray:
    """Each polygon's exterior-ring (first ring) bbox as rows ``minx,
    maxx, miny, maxy``.  A polygon without an exterior point, or with a
    NaN or infinite coordinate on its exterior ring, gets the empty box
    ``(+inf, -inf, +inf, -inf)``: a non-finite vertex takes part in no
    pair."""
    first = c.geom_off[:-1]
    n_pts = np.append(np.diff(c.part_off), 0)[first] * (np.diff(c.geom_off) > 0)
    has = n_pts > 0
    idx = _ranges(c.part_off[first[has]], n_pts[has])
    at = _offsets(n_pts[has])[:-1]
    x, y = c.x[idx], c.y[idx]
    bbox = np.full((len(first), 4), np.nan)
    bbox[has] = np.column_stack([
        np.minimum.reduceat(x, at), np.maximum.reduceat(x, at),
        np.minimum.reduceat(y, at), np.maximum.reduceat(y, at)])
    bbox[~np.isfinite(bbox).all(axis=1)] = [np.inf, -np.inf, np.inf, -np.inf]
    return bbox


def _has_box(bbox: np.ndarray) -> np.ndarray:
    """The polygons whose box is not the empty one."""
    return bbox[:, 0] <= bbox[:, 1]


_PACK_COLS = ("cnts", "x1", "y1", "x2", "y2", "bbox")


def _pack_edges_sdf(polys: DataFrame, poly_id_col: str, rings_col: str,
                    share: Optional[int] = None) -> DataFrame:
    """EXECUTOR-SIDE polygon pass: one row per non-empty partition with
    its polygons' ids (``pids``), per-polygon edge counts (``cnts``),
    ring edges as packed float64 buffers (``x1 y1 x2 y2``), exterior-ring
    bboxes (``bbox``, n x 4 float64), the partition's edge count
    (``n_edges``) and its bbox span sums (``spans``: width, height,
    polygons with a non-empty box).  What transits the driver is K
    rows (K = partitions) of raw buffers, no per-point Python objects.  A partition whose edges take more than ``share``
    bytes (32 per edge) sends only ``n_edges`` and ``spans``, the rest
    null."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (ArrayType, BinaryType, DoubleType,
                                   LongType, StructField, StructType)

    out_schema = StructType(
        [StructField("pids", ArrayType(polys.schema[poly_id_col].dataType))]
        + [StructField(k, BinaryType()) for k in _PACK_COLS]
        + [StructField("n_edges", LongType()),
           StructField("spans", ArrayType(DoubleType()))])
    arrow_schema = to_arrow_schema(out_schema)
    pids_type = arrow_schema.field("pids").type

    def _pack(batches):
        pids, parts = [], []
        for batch in batches:
            if batch.num_rows:
                c = _coords(batch.column(rings_col))
                pids.append(batch.column(poly_id_col))
                parts.append(_ring_edges(c) + (_exterior_bbox(c),))
        if not pids:
            return
        x1, y1, x2, y2, cnts, bbox = (np.concatenate(p) for p in zip(*parts))
        n_edges = int(cnts.sum())
        box = bbox[_has_box(bbox)]
        spans = [float((box[:, 1] - box[:, 0]).sum()),
                 float((box[:, 3] - box[:, 2]).sum()), float(len(box))]
        full = share is None or n_edges * 32 <= share
        yield pa.RecordBatch.from_arrays(
            [pa.ListArray.from_arrays([0, len(cnts)], pa.concat_arrays(pids),
                                      type=pids_type)
             if full else pa.nulls(1, pids_type)]
            + [pa.array([v.tobytes() if full else None], pa.binary())
               for v in (cnts, x1, y1, x2, y2, bbox)]
            + [pa.array([n_edges], pa.int64()),
               pa.array([spans], pa.list_(pa.float64()))],
            schema=arrow_schema)

    return polys.select(poly_id_col, rings_col).mapInArrow(_pack, out_schema)


class _Pack(NamedTuple):
    """A polygon layer's pack rows assembled on the driver.  ``pids``
    (polygon ``i``'s id, an Arrow array), ``bbox`` and ``edges`` (the
    broadcast payload ``x1, y1, x2, y2, offs, cnts``) are None when a
    partition went over its share."""

    pids: Optional[pa.Array]
    bbox: Optional[np.ndarray]
    edges: Optional[tuple]
    n_edges: int
    spans: np.ndarray


def _assemble_pack(table: pa.Table) -> _Pack:
    """Driver-side assembly of the per-partition pack rows: buffer
    concatenation, no per-point Python objects."""
    n_edges = int(pc.sum(table.column("n_edges")).as_py() or 0)
    spans = np.reshape(table.column("spans").to_pylist(), (-1, 3)).sum(axis=0)
    if table.column("cnts").null_count:
        return _Pack(None, None, None, n_edges, spans)
    cnts, x1, y1, x2, y2, bbox = (
        np.frombuffer(b"".join(table.column(k).to_pylist()),
                      dtype=np.int64 if k == "cnts" else np.float64)
        for k in _PACK_COLS)
    return _Pack(pc.list_flatten(table.column("pids")).combine_chunks(),
                 bbox.reshape(-1, 4), (x1, y1, x2, y2, _offsets(cnts)[:-1], cnts),
                 n_edges, spans)


def _collect_pack(polys: DataFrame, poly_id_col: str, rings_col: str,
                  share: Optional[int] = None) -> _Pack:
    """One eager job: the polygon pass of :func:`_pack_edges_sdf`."""
    return _assemble_pack(
        _pack_edges_sdf(polys, poly_id_col, rings_col, share).toArrow())


def _cover(pids: pa.Array, bbox: np.ndarray, level: int,
           poly_id_col: str) -> pa.Table:
    """Driver-side bbox-covering cells per polygon: the grid block from
    its bbox's lower-left cell to its upper-right one, as ``poly_id,
    __pip_pos, bb_minx, bb_maxx, bb_miny, bb_maxy, cell`` rows
    (``__pip_pos`` is the polygon's position in the edge payload).  Grid
    indices come from :func:`cells._np_ij`, ids are encoded like
    :func:`cells.np_cell`, so each cell equals ``cell_col`` of a point
    in it."""
    pos = np.flatnonzero(_has_box(bbox))
    box = bbox[pos]
    ix, iy = _np_ij(box[:, :2], box[:, 2:], level)
    x0, y0 = ix[:, 0], iy[:, 0]
    nx, ny = ix[:, 1] - x0 + 1, iy[:, 1] - y0 + 1
    rep = np.repeat(np.arange(len(pos)), nx * ny)
    k = np.arange(len(rep)) - np.repeat(_offsets(nx * ny)[:-1], nx * ny)
    gx, gy = x0[rep] + k % nx[rep], y0[rep] + k // nx[rep]
    cell = ((_np_spread(gx) | (_np_spread(gy) << 1)) << 5) | np.int64(level)
    return pa.table({
        poly_id_col: pids.take(pos[rep]),
        "__pip_pos": pa.array(pos[rep], pa.int32()),
        "bb_minx": box[rep, 0], "bb_maxx": box[rep, 1],
        "bb_miny": box[rep, 2], "bb_maxy": box[rep, 3],
        "cell": cell,
    })


def _make_pip_test_udf_bc(edges_bc, chunk_pairs: int = 4_000_000):
    """Exact even-odd ray cast as a fully vectorized gather: each
    candidate row carries its polygon's position in the broadcast
    arrays and indexes that polygon's edge slice; (edge x point) pairs
    are materialized in chunks of about ``chunk_pairs`` pairs, split
    only at row boundaries, and crossings accumulated with bincount.
    Rings arrive via a Spark broadcast, shipped once per executor — a
    rings column on the candidate rows re-ships the payload once per
    candidate through Arrow (measured dominant at 19M candidates)."""

    @arrow_udf("boolean")
    def _pip_test_udf(lon: pa.Array, lat: pa.Array,
                      poly_pos: pa.Array) -> pa.Array:
        ex1, ey1, ex2, ey2, eoff, ecnt = edges_bc.value
        px = _floats(lon)
        py = _floats(lat)
        n = len(px)
        pidx = poly_pos.to_numpy(zero_copy_only=False)
        lengths = ecnt[pidx]
        starts = eoff[pidx]
        out = np.zeros(n, dtype=bool)
        cum = np.cumsum(lengths)
        bounds = [0]
        while bounds[-1] < n:
            # a chunk ends at the first row whose running pair count
            # reaches chunk_pairs past the chunk's start
            done = cum[bounds[-1] - 1] if bounds[-1] else 0
            bounds.append(min(int(np.searchsorted(cum, done + chunk_pairs)) + 1, n))
        for a, b in zip(bounds[:-1], bounds[1:]):
            ln = lengths[a:b]
            total = int(ln.sum())
            if total == 0:
                continue
            reps = np.repeat(np.arange(a, b), ln)
            csl = np.cumsum(ln) - ln
            pos = np.arange(total) - np.repeat(csl, ln)
            eidx = np.repeat(starts[a:b], ln) + pos
            x1, y1 = ex1[eidx], ey1[eidx]
            x2, y2 = ex2[eidx], ey2[eidx]
            ppx, ppy = px[reps], py[reps]
            cond = (y1 > ppy) != (y2 > ppy)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (x2 - x1) * (ppy - y1) / (y2 - y1) + x1
            crossed = cond & (ppx < xint)
            cnt = np.bincount(reps[crossed] - a, minlength=b - a)
            out[a:b] = (cnt % 2).astype(bool)
        return pa.array(out)

    return _pip_test_udf


def _pip_level(spans: np.ndarray) -> int:
    """The adaptive level: cells ~2x the mean polygon bbox span."""
    w_sum, h_sum, n = spans
    span = max(w_sum / n if n else 0.0, h_sum / n if n else 0.0, 1e-9)
    return int(min(max(round(math.log2(360.0 / (2.0 * span))), 1), 16))


def pip_join(
    points: DataFrame,
    polys: DataFrame,
    level: Optional[int] = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
    poly_id_col: str = "poly_id",
    rings_col: str = "rings",
    how: str = "inner",
    max_broadcast_bytes: int = 256 << 20,
) -> DataFrame:
    """Point-in-polygon join.  Polygons are the SMALL/broadcast side.

    Plan shape: one executor pass over the polygon layer
    (:func:`_pack_edges_sdf`) flattens its rings into packed float64
    edge buffers and takes each polygon's exterior-ring bbox; these
    transit the driver only as K per-partition binary rows.  The driver
    expands each bbox into its covering cells (:func:`_cover`, numpy)
    and passes them, as a local relation, to a BROADCAST equi-join on
    the big side's JVM-computed cell column; a JVM bbox pre-filter
    follows, then the exact even-odd test, one flattened numpy ray-cast
    per Arrow batch against the edges, which ship to the Python workers
    once per executor via a Spark broadcast.  A candidate row carries
    its polygon's position in that payload, so a repeated ``poly_id``
    tests each polygon against its own rings.  The big table is never
    shuffled.

    ``level=None`` picks the cell level adaptively so cells are ~2x the
    mean polygon bbox span: coarse cells make every point meet every
    polygon sharing its huge cell (measured 4x candidate inflation at
    2 levels too coarse), fine cells explode the covering-cell count.

    ``max_broadcast_bytes`` bounds the edge bytes (32 per edge) the
    driver collects and broadcasts.  The polygon pass gives each of the
    layer's K partitions a share of ``max_broadcast_bytes // K``; a
    partition over its share sends only its edge count and span sums,
    so that pass never brings more than ``max_broadcast_bytes`` of
    edges to the driver.  If any partition went over, the layer is
    split into ``ceil(edges * 32 / max_broadcast_bytes)`` hash chunks on
    ``poly_id``, each chunk packs only its own polygons, and the
    per-chunk joins are unioned — the exactness is unchanged (a point's
    hits across disjoint polygon subsets are disjoint), the cost is one
    scan of the big table per chunk.

    A polygon whose exterior ring has no point, or a NaN, null or
    infinite coordinate, has no covering cell and no hit; a null
    coordinate reads NaN in the edges.

    ``how``: "inner" (default) or "left" (unmatched points kept with
    null poly_id).

    Eager at construction: the polygon pass, one job that gives the
    level, the chunk decision and, unless a partition went over its
    share, the edges and covering cells; when chunked, one more pass
    per chunk, never one of the whole layer.  Reading the layer's
    partition count plans it and runs no job, except that AQE runs the
    shuffle stages of a layer whose plan has an exchange.
    """
    if level is not None and not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"cell level must be in [0, {MAX_LEVEL}], got {level}")
    layer = polys.select(poly_id_col, rings_col)
    share = max_broadcast_bytes // max(layer.rdd.getNumPartitions(), 1)
    pack = _collect_pack(layer, poly_id_col, rings_col, share)
    if level is None:
        level = _pip_level(pack.spans)
    inner = functools.partial(_pip_inner, points, level=level, lon_col=lon_col,
                              lat_col=lat_col, poly_id_col=poly_id_col)
    if pack.edges is not None:
        hits = inner(pack)
    else:
        n_chunks = max(1, -(-(pack.n_edges * 32) // max_broadcast_bytes))
        chunk = F.pmod(F.xxhash64(F.col(poly_id_col).cast("string")),
                       F.lit(n_chunks))
        hits = functools.reduce(DataFrame.unionByName, [
            inner(_collect_pack(layer.where(chunk == i), poly_id_col, rings_col))
            for i in range(n_chunks)])

    if how == "inner":
        return hits
    if how == "left":
        matched = hits.select(*points.columns, poly_id_col)
        unmatched = points.join(
            hits.select(*points.columns).distinct(), points.columns, "left_anti"
        ).withColumn(poly_id_col, F.lit(None).cast("string"))
        return matched.unionByName(unmatched)
    raise ValueError(f"unsupported how={how!r}")


def _pip_inner(points, pack: _Pack, level, lon_col, lat_col,
               poly_id_col) -> DataFrame:
    """One broadcast-sized PIP pass over a packed polygon layer (see
    :func:`pip_join` for the plan)."""
    spark = points.sparkSession
    edges_bc = spark.sparkContext.broadcast(pack.edges)
    cover = spark.createDataFrame(_cover(pack.pids, pack.bbox, level, poly_id_col))
    pts = points.withColumn("cell", cell_col(F.col(lon_col), F.col(lat_col), level))
    cand = pts.join(F.broadcast(cover), "cell", "inner")
    # JVM-side bbox pre-filter (whole-stage codegen): a polygon's bbox is
    # a superset of the polygon, so this only removes certain non-hits —
    # and it removes MOST candidates before they pay the Arrow transfer
    # into the Python stage
    cand = cand.where(
        (F.col(lon_col) >= F.col("bb_minx")) & (F.col(lon_col) <= F.col("bb_maxx"))
        & (F.col(lat_col) >= F.col("bb_miny")) & (F.col(lat_col) <= F.col("bb_maxy"))
    ).drop("bb_minx", "bb_maxx", "bb_miny", "bb_maxy")
    pip_test = _make_pip_test_udf_bc(edges_bc)
    return cand.where(
        pip_test(F.col(lon_col), F.col(lat_col), F.col("__pip_pos"))
    ).drop("__pip_pos")


def pip_anti_join(points: DataFrame, polys: DataFrame, **kwargs) -> DataFrame:
    """Points contained in NO polygon (set-ops coverage, SURVEY.md §2.2):
    candidate-prune + exact test, then LEFT ANTI against the hits."""
    hits = pip_join(points, polys, how="inner", **kwargs)
    key_cols = [c for c in points.columns]
    return points.join(hits.select(*key_cols).distinct(), key_cols, "left_anti")


def cell_equi_join(
    left: DataFrame, right: DataFrame, level: int,
    lon_col: str = "lon", lat_col: str = "lat",
    broadcast_right: bool = True,
) -> DataFrame:
    """Co-locate two point sets by shared cell id (the basic spatial
    equi-join; broadcast the small side, else shuffle-hash on cell)."""
    l = left.withColumn("cell", cell_col(F.col(lon_col), F.col(lat_col), level))
    r = right.withColumn("cell", cell_col(F.col(lon_col), F.col(lat_col), level))
    r = F.broadcast(r) if broadcast_right else r
    return l.join(r, "cell")


# the finest grid radius_join picks on its own
_RADIUS_MAX_LEVEL = 14


def radius_join(
    points: DataFrame,
    queries: DataFrame,
    radius_m: float,
    lon_col: str = "lon",
    lat_col: str = "lat",
    point_id_col: str = "point_id",
    query_id_col: str = "query_id",
    level: int | None = None,
    max_broadcast_rows: int = 4_000_000,
    broadcast_queries: bool | None = None,
) -> DataFrame:
    """RANGE (distance-within) join: every (query, point) pair with
    great-circle distance <= ``radius_m`` — kNN's sibling: fixed
    radius, unbounded k.  Output: (query_id, point_id, dist_m).

    EXACT at any latitude: the grid level is chosen so one cell's
    latitude height covers the radius (``ry`` rows, from ceil), and
    each query's longitude span ``rx`` comes from the chord inequality
    at its band's worst-case latitude (dist >= 2R asin(cos(max|lat|)
    sin(dlon/2)), the bound the kNN guard uses); near the poles it
    widens to the full circle.  The rings come from numpy
    (:func:`_ring_cells`, as kNN's), each cell once, and join the big
    table's JVM cell column; one codegen haversine filter follows.  A
    query or a point with a NULL, NaN or +-Inf coordinate takes part in
    no pair.

    ``broadcast_queries`` picks the plan.  None (default) collects the
    queries once, at most ``max_broadcast_rows // (2*ry + 1) + 1`` of
    them through a root LIMIT, counts their exact ring rows and, when
    they fit ``max_broadcast_rows``, broadcasts the rings as a local
    relation: the points table is never shuffled.  Otherwise it warns
    and falls back to the shuffle plan: a ``mapInArrow`` over the
    queries builds the same rings on the executors, and the points are
    shuffled on ``cell``.  False takes the shuffle plan and True
    broadcasts its rings; both run nothing at construction (with True
    the caller vouches for the size).
    """
    if radius_m <= 0:
        raise ValueError(f"radius_m must be > 0, got {radius_m}")
    rad_deg = math.degrees(radius_m / EARTH_RADIUS_M)
    if level is None:
        # largest level whose cell lat-height still covers the radius
        level = max(0, min(_RADIUS_MAX_LEVEL,
                           int(math.floor(math.log2(180.0 / rad_deg)))
                           if rad_deg < 180.0 else 0))
    n = 1 << level
    ch, cw = 180.0 / n, 360.0 / n
    ry = min(int(math.ceil(rad_deg / ch)), n)
    half_sin = math.sin(radius_m / (2.0 * EARTH_RADIUS_M))

    def rx(lat):
        # chord-exact longitude span at the band's worst-case latitude; a
        # band reaching past the 89.99-deg clamp must saturate to the FULL
        # longitude circle (the clamp otherwise SHRINKS the ring and drops
        # in-radius pairs for small radii near the poles)
        top = np.abs(lat) + rad_deg
        ratio = np.where(top >= 89.99, 1.0,
                         np.minimum(1.0, half_sin / np.cos(np.radians(top))))
        span = np.degrees(2.0 * np.arcsin(ratio))
        return np.minimum(np.ceil(span / cw), n // 2 + 1).astype(np.int64)

    pts = _located(points, lon_col, lat_col).withColumn(
        "cell", cell_col(F.col(lon_col), F.col(lat_col), level))
    q = queries.select(F.col(query_id_col), F.col(lon_col).alias("q_lon"),
                       F.col(lat_col).alias("q_lat"))
    rings = None
    if broadcast_queries is None:
        # a finite query's ring spans 2ry+1 rows away from the poles:
        # past ``cap`` queries the rings cannot fit, so the collect stops
        # there and the exact count runs before any ring is built
        cap = max_broadcast_rows // (2 * ry + 1)
        qt = q.limit(cap + 1).toArrow()
        if qt.num_rows <= cap:
            rings = _ring_cells(qt, level, rx, ry, max_broadcast_rows)
        if rings is None:
            import warnings

            warnings.warn(
                f"radius_join: the query rings exceed "
                f"max_broadcast_rows={max_broadcast_rows}; falling back to "
                f"a shuffle join — the points table WILL be shuffled on "
                f"cell.  Reduce the radius, the query count, or pass a "
                f"larger max_broadcast_rows to restore the broadcast plan.",
                stacklevel=2,
            )
    if rings is not None:
        cells = F.broadcast(points.sparkSession.createDataFrame(rings))
    else:
        from pyspark.sql.types import LongType, StructField, StructType

        def _rings(batches):
            for b in batches:
                yield from _ring_cells(pa.Table.from_batches([b]), level,
                                       rx, ry).to_batches()

        cells = q.mapInArrow(_rings, StructType(
            q.schema.fields + [StructField("cand_cell", LongType(), False)]))
        if broadcast_queries:
            cells = F.broadcast(cells)
    return (
        pts.join(cells, pts["cell"] == cells["cand_cell"], "inner")
        .select(
            query_id_col, point_id_col,
            haversine_col(F.col(lon_col), F.col(lat_col),
                          F.col("q_lon"), F.col("q_lat")).alias("dist_m"),
        )
        .where(F.col("dist_m") <= F.lit(float(radius_m)))
    )


# ---------------------------------------------------------------------------
# kNN via cell-ring expansion
# ---------------------------------------------------------------------------
_BIG_M = 4.0e7  # > any great-circle distance on Earth (half circumference ~2e7)
# kNN brute-force budget in (query, point) pairs — the same as PIP's chunk_pairs
_BRUTE_PAIRS = 4_000_000


def _np_block_guard(q_lon: np.ndarray, q_lat: np.ndarray, level: int,
                    ring: int) -> np.ndarray:
    """Conservative LOWER bound (meters) of the great-circle distance
    from each query point to ANY point outside its ring-``ring``
    candidate block at ``level`` — derived on the SAME sphere as
    :func:`haversine_col` (R = EARTH_RADIUS_M), so the bound can never
    exceed a true haversine distance:

      * latitude sides: d >= R * dphi  (h >= sin^2(dphi/2) exactly);
      * longitude sides: any outside point p with lat inside the block
        satisfies cos(lat_q)*cos(lat_p) >= cos^2(max|lat| in block), so
        d >= 2R*asin(cos(max|lat|) * sin(dlon/2)) — the chord form, not
        a flat meters-per-degree approximation (a 111320 m/deg constant
        OVERSTATES the spherical 111194.9 m/deg and silently broke the
        exactness contract; fixed per round-1 advice).

    Sides that don't exist (block touching a pole, block wrapping the
    full globe in longitude) contribute +inf.  Wrapped-longitude blocks
    (query near the antimeridian) stay correct because west/east are
    kept in the query's unwrapped frame and candidate cells wrap with
    the same modulo as ``cells._np_block``.  A NaN coordinate gives a NaN
    bound, which proves nothing.
    """
    q_lon = np.asarray(q_lon, dtype=np.float64)
    q_lat = np.asarray(q_lat, dtype=np.float64)
    n = 1 << level
    cw, ch = 360.0 / n, 180.0 / n
    ix, iy = _np_ij(q_lon, q_lat, level)
    west = (ix - ring) * cw - 180.0
    east = (ix + ring + 1) * cw - 180.0
    south = (iy - ring) * ch - 90.0
    north = (iy + ring + 1) * ch - 90.0
    R = EARTH_RADIUS_M
    with np.errstate(invalid="ignore"):
        g_s = np.where(south > -90.0, np.radians(q_lat - south) * R, _BIG_M)
        g_n = np.where(north < 90.0, np.radians(north - q_lat) * R, _BIG_M)
        if (2 * ring + 1) * cw >= 360.0:
            g_lon = np.full_like(q_lat, _BIG_M)
        else:
            max_abs_lat = np.maximum(np.abs(np.maximum(south, -90.0)),
                                     np.abs(np.minimum(north, 90.0)))
            dlon = np.minimum(np.minimum(q_lon - west, east - q_lon), 180.0)
            half = np.sin(np.radians(dlon) / 2.0)
            g_lon = 2.0 * R * np.arcsin(np.cos(np.radians(max_abs_lat)) * half)
            # Latitude-split refinement for pole-reaching blocks: when the
            # band touches a pole, cos(max|lat|) -> 0 and the chord bound
            # above degenerates to ~0 m, leaving every polar query
            # unprovable (measured: the two southernmost bench queries
            # forced a full expansion round + brute pass on every call).
            # For ANY split latitude t >= |lat_q|, an in-band point beyond
            # the longitude wall either has |lat| <= t — then
            # h >= cos(lat_q) cos(lat_p) sin^2(dlon/2) >= cos^2(t)
            # sin^2(dl/2), i.e. d >= 2R asin(cos t sin(dl/2)) — or
            # |lat| > t — then |dlat| >= t - |lat_q| and d >= R * dphi.
            # min() of the two is a valid lower bound for every t, so the
            # max over a fixed t-grid is too; it stays nonzero at the
            # poles.
            absq = np.abs(q_lat)
            for j in range(1, 8):
                t = absq + (90.0 - absq) * (j / 8.0)
                b1 = 2.0 * R * np.arcsin(np.cos(np.radians(t)) * half)
                b2 = np.radians(t - absq) * R
                g_lon = np.maximum(g_lon, np.minimum(b1, b2))
        return np.minimum(np.minimum(g_s, g_n), g_lon)


# the kNN candidate frames carry each query's position in the driver's
# query table, and the window ranks per position
_QPOS = "__qpos"
# the most queries knn_join collects to the driver (radius_join's
# default max_broadcast_rows)
_KNN_MAX_QUERIES = 4_000_000
# unproven queries retry _EXPANSION_ROUNDS wider rings, each
# ``_EXPANSION_FACTOR * r + 1``, before the brute pass
_EXPANSION_ROUNDS = 1
_EXPANSION_FACTOR = 3


def _top_k(cand: DataFrame, k: int, point_id_col: str) -> DataFrame:
    """Each query's first ``k`` candidate rows by ``(dist_m,
    point_id)``, numbered ``rank`` 1..k.  A ``row_number`` window alone:
    Spark plans a partial ``WindowGroupLimit`` below the shuffle, so
    each partition sends at most ``k`` rows per query (the two-phase
    top-k), and a final one after it.  Past
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000 by default)
    Spark plans the plain window instead: the same rows, with every
    candidate shuffled.  Every kNN plan (the ring rounds,
    ``exact_fallback=False`` and the brute pass) ranks here."""
    w = Window.partitionBy(_QPOS).orderBy(F.col("dist_m").asc(),
                                          F.col(point_id_col).asc())
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _candidates(cand: DataFrame, lon_col: str, lat_col: str,
                point_id_col: str, query_id_col: str) -> DataFrame:
    """Candidate (query, point) rows as ``__qpos, query_id, q_lon,
    q_lat, point_id, dist_m`` from a join of points and a query table.
    A pair with no distance (a NaN or +-Inf coordinate) is dropped."""
    return cand.select(
        _QPOS, query_id_col, "q_lon", "q_lat", point_id_col,
        haversine_col(F.col(lon_col), F.col(lat_col),
                      F.col("q_lon"), F.col("q_lat")).alias("dist_m"),
    ).where(F.col("dist_m") < F.lit(_BIG_M))  # NaN orders above it


def _ring_cells(q: pa.Table, level: int, rx, ry: int,
                max_rows: int | None = None) -> Optional[pa.Table]:
    """The one candidate-ring builder: one row of the query table ``q``
    (``q_lon``, ``q_lat`` and any other columns) per cell of its block
    (:func:`cells._np_block`: ``|dx| <= rx``, ``|dy| <= ry``,
    longitude wraps, rows past a pole dropped, each cell once), in a
    non-null column ``cand_cell`` equal to ``cell_col`` of a point in
    it.  ``rx`` is an int or a function of the queries' latitudes.  A
    query with a NULL, NaN or +-Inf coordinate has no cell.  ``None``
    when the rings hold more than ``max_rows`` rows, counted before
    any is built."""
    lon, lat = (_floats(q.column(c).combine_chunks()) for c in ("q_lon", "q_lat"))
    valid = np.flatnonzero(np.isfinite(lon) & np.isfinite(lat))
    lon, lat = lon[valid], lat[valid]
    block = _np_block(*_np_ij(lon, lat, level), rx(lat) if callable(rx) else rx,
                      ry, level, max_rows)
    if block is None:
        return None
    row, cell = block
    return q.take(valid[row]).append_column(
        pa.field("cand_cell", pa.int64(), nullable=False), pa.array(cell, pa.int64()))


def _ring_round(pts: DataFrame, q: pa.Table, r: int, k: int, level: int,
                lon_col: str, lat_col: str, point_id_col: str,
                query_id_col: str) -> DataFrame:
    """One candidate-generation round: the queries' ring-``r`` cells
    come from the driver (:func:`_ring_cells`, numpy, like the PIP
    cover) as a local relation, BROADCAST into an equi-join on the big
    table's JVM cell column, then per-query top-k (:func:`_top_k`).
    Every round and every call plans the same query: the ring and the
    queries live in the local relation's rows, not in its code."""
    cells = pts.sparkSession.createDataFrame(_ring_cells(q, level, r, r))
    cand = pts.join(F.broadcast(cells), pts["cell"] == cells["cand_cell"], "inner")
    return _top_k(_candidates(cand, lon_col, lat_col, point_id_col,
                              query_id_col), k, point_id_col)


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int = 5,
    level: Optional[int] = None,
    ring: int = 1,
    lon_col: str = "lon",
    lat_col: str = "lat",
    point_id_col: str = "point_id",
    query_id_col: str = "query_id",
    exact_fallback: bool = True,
    n_points: Optional[int] = None,
) -> DataFrame:
    """k nearest points for every query point (great-circle meters) —
    EXACT at any density.

    Plan (scale story first — this is the one operator whose candidate
    set grows linearly with point density if the cell level is fixed):

      1. **Adaptive level** (``level=None``): pick the cell level from
         the point count so the ring-``ring`` block holds ~max(4k, 64)
         candidates under a uniform spread — a 100x denser table gets a
         ~log4(100) finer grid instead of 100x the candidates per
         query.  Pass ``n_points`` to skip the count job (or ``level``
         to pin it).
      2. **Fast path**: the queries (the small/broadcast side by
         contract) come to the driver once, as Arrow; numpy expands
         each into its ring-``ring`` candidate cells
         (:func:`_ring_cells`), which a local relation BROADCASTs into
         an equi-join on the big table's JVM cell column; per-query
         top-k by one ``row_number`` window, which Spark pre-limits to
         k rows per query in each partition before the shuffle
         (:func:`_top_k`).
      3. **The driver proves each round**: the round's top-k rows come
         back through Arrow (at most k per query); a query is proven
         exact iff it has a k-th candidate and that distance is <= the
         spherical chord lower bound to its block boundary
         (:func:`_np_block_guard`).  Proven rows are kept as they are;
         a query with fewer than k candidates, none included, is not.
         Every round plans the same query (the cells, the ring and the
         queries are rows of the local relation), so warm calls reuse
         Spark's generated code.
      4. **Pair-budget gate, then ring expansion**: with
         ``T = _BRUTE_PAIRS // n_points`` (0 when ``n_points`` is
         unknown, i.e. a pinned ``level``), an empty remainder returns
         at once.  A remainder of at most T queries goes straight to
         the exact brute-force pass (a broadcast of those queries
         only): its <= _BRUTE_PAIRS pairs cost no more than the full
         points scan of another ring round.  A larger remainder (sparse
         neighborhoods) retries once with ring ``3r + 1`` — never a
         full scan; whatever is still unproven then takes the
         brute-force pass.

    Construction is EAGER: one job collects the queries (at most
    ``_KNN_MAX_QUERIES``, 4M, else a ``ValueError`` before any ring
    job), and every ring round it needs runs before the call returns.
    The proven rows come back as a local relation; only the brute pass,
    if any, runs when the result is consumed.  With
    ``exact_fallback=False`` the call
    collects the queries, runs no ring job and returns round 1's
    top-k rows as they are, proven or not.  The driver reads a round's
    rows back by query id, so a query whose id is NULL or repeats is
    never proven in a round and takes the brute pass.  A query or a
    point with a NULL, NaN or +-Inf coordinate takes part in no pair:
    such a query gets no row, and a finite query with fewer than k
    finite points gets fewer than k.

    Output: query_id, q_lon, q_lat, point_id, dist_m, rank (1..k).
    """
    points = _located(points, lon_col, lat_col)
    block_cells = (2 * ring + 1) ** 2
    if level is None:
        if n_points is None:
            n_points = points.count()
        target = max(4 * k, 64)
        raw = math.log(max(n_points * block_cells / target, 1.0), 4.0)
        # FLOOR, not round: rounding the level up halves (to a quarter
        # of) the expected per-block candidate count, which leaves the
        # exactness guard unprovable for borderline queries and forces
        # an expansion round (measured: the whole ring-4 retry +
        # checkpoint + guard cycle ran on every bench call).  Flooring
        # keeps the designed invariant "a ring block holds AT LEAST
        # ~target candidates", so round 1 proves in the common case.
        # Results are unchanged at any level (exactness guard +
        # fallback); only the candidate density changes.
        level = int(min(max(math.floor(raw), 1), MAX_LEVEL))

    pts = points.withColumn("cell", cell_col(F.col(lon_col), F.col(lat_col), level))
    spark = points.sparkSession
    qt = queries.select(F.col(query_id_col), F.col(lon_col).alias("q_lon"),
                        F.col(lat_col).alias("q_lat")
                        ).limit(_KNN_MAX_QUERIES + 1).toArrow()
    if qt.num_rows > _KNN_MAX_QUERIES:
        raise ValueError(
            f"knn_join collects its queries to the driver and takes at most "
            f"{_KNN_MAX_QUERIES} of them; split the query table")
    qt = qt.add_column(0, _QPOS, pa.array(np.arange(qt.num_rows), pa.int64()))
    out_cols = [query_id_col, "q_lon", "q_lat", point_id_col, "dist_m", "rank"]
    if not exact_fallback:
        return _ring_round(pts, qt, ring, k, level, lon_col, lat_col, point_id_col,
                           query_id_col).select(*out_cols)

    # a remainder this small costs the brute pass at most _BRUTE_PAIRS
    # pairs — no more than the full points scan of one ring round
    brute_max = _BRUTE_PAIRS // n_points if n_points else 0
    q_lon, q_lat = (_floats(qt.column(c).combine_chunks()) for c in ("q_lon", "q_lat"))
    # a round's rows find their query by id, so a query whose id is
    # NULL or repeats is never proven in a round: the brute pass ranks
    # every query on its own
    ids = qt.column(query_id_col).combine_chunks()
    first = pc.index_in(ids, value_set=ids).to_numpy(zero_copy_only=False)
    provable = (np.bincount(first, minlength=qt.num_rows)[first] == 1) \
        & ids.is_valid().to_numpy(zero_copy_only=False)
    # a query with a non-finite coordinate has no cell and no distance
    remaining = np.flatnonzero(np.isfinite(q_lon) & np.isfinite(q_lat))
    r, proven = ring, []
    for rnd in range(_EXPANSION_ROUNDS + 1):
        if rnd:
            # unproven queries (sparse neighborhoods) retry a wider ring
            r = _EXPANSION_FACTOR * r + 1
        tk = _ring_round(pts, qt.take(remaining), r, k, level, lon_col, lat_col,
                         point_id_col, query_id_col).select(*out_cols).toArrow()
        # a query is proven when it has a k-th candidate within the
        # guard (a NaN k-th distance, from fewer than k, never is)
        pos = pc.index_in(tk.column(query_id_col), value_set=ids).to_numpy(
            zero_copy_only=False)
        at_k = tk.column("rank").to_numpy() == k
        kth = np.full(qt.num_rows, np.nan)
        kth[pos[at_k]] = tk.column("dist_m").to_numpy()[at_k]
        ok = np.zeros(qt.num_rows, dtype=bool)
        ok[remaining] = provable[remaining] & (kth[remaining] <= _np_block_guard(
            q_lon[remaining], q_lat[remaining], level, r))
        proven.append(tk.filter(pa.array(ok[pos])))
        remaining = remaining[~ok[remaining]]
        if not len(remaining):
            return spark.createDataFrame(pa.concat_tables(proven))
        if len(remaining) <= brute_max:
            break

    # exact brute-force pass for whatever survives expansion (rare:
    # pole-adjacent queries, k > population) — broadcast those queries;
    # it runs when the result is consumed
    bad = spark.createDataFrame(qt.take(remaining))
    brute = _candidates(points.crossJoin(F.broadcast(bad)), lon_col, lat_col,
                        point_id_col, query_id_col)
    return spark.createDataFrame(pa.concat_tables(proven)).unionByName(
        _top_k(brute, k, point_id_col).select(*out_cols))
