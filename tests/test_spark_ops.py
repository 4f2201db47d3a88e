"""Spark-surface tests: transform UDFs, cell index, tiles, spatial joins.

Strategy mirrors the reference's KAT style (SURVEY.md §5) but at the
DataFrame level: known answers for the UDF path, bit-parity between the
JVM Column math and the numpy mirrors, and brute-force oracles for the
join operators.
"""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from proj_spark.functions.transform import proj_udf, with_transformed
from proj_spark.operators import cells as C
from proj_spark.operators import tiles as T
from proj_spark.operators.joins import (
    haversine_col,
    knn_join,
    pip_anti_join,
    pip_join,
)


def test_transform_udf_kat(spark):
    # the Presidio KAT through the Arrow UDF path
    # (/root/reference/src/proj.rs:1780-1789)
    df = spark.createDataFrame(
        [(1, 4760096.421921, 3744293.729449), (2, 4760197.421921, 3744394.729449)],
        "id int, x double, y double",
    )
    out = with_transformed(df, "EPSG:2230", "EPSG:26946",
                           x_col="x", y_col="y", out_x="mx", out_y="my")
    rows = {r["id"]: r for r in out.collect()}
    assert abs(rows[1]["mx"] - 1450880.2910605022) < 1e-6
    assert abs(rows[1]["my"] - 1141263.0111604782) < 1e-6
    assert abs(rows[2]["my"] - 1141293.7960220438) < 1e-6
    assert rows[1]["proj_err"] is None


def test_transform_udf_rowwise_errors(spark):
    # row-wise error columns: bad rows NaN + message, good rows fine
    df = spark.createDataFrame(
        [(1, -122.4, 37.7), (2, -122.4, 95.0)], "id int, lon double, lat double"
    )
    udf = proj_udf("EPSG:4326", "EPSG:3857")
    out = df.select("id", udf("lon", "lat").alias("t")).select(
        "id", "t.x", "t.err"
    ).collect()
    byid = {r["id"]: r for r in out}
    assert byid[1]["err"] is None and math.isfinite(byid[1]["x"])
    assert byid[2]["err"] == "Invalid coordinate"


def test_transform_udfs_share_the_worker_cache(spark):
    # UDF closures are pickled by value; in a fresh interpreter (a
    # Python worker) two unpickled transform UDFs must build the
    # Transform once, in the module's own cache, not in per-task copies
    import ast
    import subprocess
    import sys

    from pyspark import cloudpickle

    from proj_spark.functions.transform import (projstring_udf,
                                                 projstring_udf3)

    merc = "+proj=merc +lat_ts=56.5 +ellps=GRS80"
    blob = cloudpickle.dumps(
        [proj_udf("EPSG:4326", "EPSG:3857").func for _ in range(2)]
        + [projstring_udf(merc).func,
           projstring_udf(merc, input_units="unit", inverse=True).func,
           projstring_udf3(merc).func])
    script = (
        "import sys\n"
        "import pyarrow as pa\n"
        "from pyspark import cloudpickle\n"
        "udfs = cloudpickle.loads(sys.stdin.buffer.read())\n"
        "from proj_spark.functions import transform\n"
        "built = []\n"
        "for f in udfs:\n"
        "    cols = [pa.array([0.1])] * (f.__code__.co_argcount)\n"
        "    f(*cols)\n"
        "    built.append([id(t) for t in transform._TRANSFORM_CACHE.values()])\n"
        "transform.get_transform(('EPSG:4326', 'EPSG:3857'))\n"
        "built.append([id(t) for t in transform._TRANSFORM_CACHE.values()])\n"
        "print(built)\n"
    )
    r = subprocess.run([sys.executable, "-c", script], input=blob,
                       capture_output=True, timeout=120)
    assert r.returncode == 0, r.stderr.decode()[-2000:]
    first, second, *merc_udfs, sql = ast.literal_eval(
        r.stdout.decode().splitlines()[-1])
    assert len(first) == 1 and second == first
    # one Transform per definition, whatever the UDF's units, direction
    # or z; the SQL proj_transform path shares proj_udf's
    assert len(merc_udfs[0]) == 2 and merc_udfs[1:] == merc_udfs[:1] * 2
    assert sql == merc_udfs[0]


def test_transform_udfs_reject_a_misspelt_error_mode(spark):
    from proj_spark.functions.transform import (projstring_udf,
                                                 projstring_udf3)
    from proj_spark.operators.geometry import (GEOMETRY_DDL, geom_point,
                                               transform_geometry)

    df = spark.createDataFrame(
        pd.DataFrame({"geom": [geom_point(10.0, 50.0)]}),
        schema=f"geom struct<{GEOMETRY_DDL}>")
    merc = "+proj=merc +lat_ts=56.5 +ellps=GRS80"
    builds = [lambda e: proj_udf("EPSG:4326", "EPSG:3857", errors=e),
              lambda e: projstring_udf(merc, errors=e),
              lambda e: projstring_udf3(merc, errors=e),
              lambda e: with_transformed(df, "EPSG:4326", "EPSG:3857",
                                         errors=e),
              lambda e: transform_geometry(df, "EPSG:4326", "EPSG:3857",
                                           errors=e)]
    for build in builds:
        with pytest.raises(ValueError, match="errors must be"):
            build("Strict")


def test_transform_geometry_with_options_uses_the_worker_cache(
        spark, monkeypatch):
    # transform_geometry(**options) must build its Transform once per
    # worker, like proj_udf, not once per Arrow batch
    import subprocess
    import sys

    from pyspark import cloudpickle

    from proj_spark.operators import geometry as G

    bodies = []
    real = G.arrow_udf

    def spy(*args, **kwargs):
        deco = real(*args, **kwargs)

        def capture(f):
            bodies.append(f)
            return deco(f)
        return capture

    monkeypatch.setattr(G, "arrow_udf", spy)
    df = spark.createDataFrame(
        pd.DataFrame({"geom": [G.geom_point(10.0, 50.0)]}),
        schema=f"geom struct<{G.GEOMETRY_DDL}>")
    G.transform_geometry(df, "EPSG:4326", "EPSG:3857", allow_ballpark=True)
    (body,) = bodies
    script = (
        "import sys\n"
        "import pyarrow as pa\n"
        "from pyspark import cloudpickle\n"
        "from proj_spark.crs import Transform\n"

        "build = Transform.new_known_crs.__func__\n"
        "calls = []\n"
        "def counted(cls, *a, **k):\n"
        "    calls.append(1)\n"
        "    return build(cls, *a, **k)\n"
        "Transform.new_known_crs = classmethod(counted)\n"
        "f = cloudpickle.loads(sys.stdin.buffer.read())\n"
        "for x in (10.0, 20.0):\n"
        "    g = pa.array([{'kind': 'Point', 'parts': [[[x, 50.0]]],\n"
        "                   'offsets': None}])\n"
        "    out = f(g).to_pylist()\n"
        "    assert out[0]['parts'][0][0][0] > 1e6\n"
        "print(len(calls))\n"
    )
    r = subprocess.run([sys.executable, "-c", script],
                       input=cloudpickle.dumps(body), capture_output=True,
                       timeout=120)
    assert r.returncode == 0, r.stderr.decode()[-2000:]
    assert r.stdout.decode().split()[-1] == "1"


# grid edges, out-of-range (clamped) coordinates and -0.0 next to
# uniform points
_EDGE_LON = np.array([-180.0, 180.0, -0.0, 0.0, 179.9999999, -180.0000001,
                      181.0, -181.0, 1e9, -1e9, 0.0, 12.5])
_EDGE_LAT = np.array([-90.0, 90.0, -0.0, 0.0, 89.9999999, -90.0000001,
                      91.0, -91.0, -1e9, 1e9, -0.0, 90.0])


def _cell_inputs(seed, n=500):
    rng = np.random.default_rng(seed)
    return (np.concatenate([rng.uniform(-180, 180, n), _EDGE_LON]),
            np.concatenate([rng.uniform(-90, 90, n), _EDGE_LAT]))


# NaN and +-inf lon/lat: both sides clamp +inf to the last index and
# map NaN to index 0
_NONFINITE = np.array([(np.nan, 0.0), (0.0, np.nan), (np.inf, 0.0),
                       (-np.inf, 0.0), (0.0, np.inf), (0.0, -np.inf),
                       (np.inf, np.inf), (np.nan, np.nan),
                       (-np.inf, np.nan), (np.inf, -np.inf)]).T


def _lonlat_df(spark, lon, lat):
    # built from Python floats: a pandas frame would turn NaN into null
    return spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)],
        "lon double, lat double")


def test_cell_column_matches_numpy(spark):
    lon, lat = (np.concatenate(v) for v in zip(_cell_inputs(7), _NONFINITE))
    df = _lonlat_df(spark, lon, lat)
    got = df.select(*[
        C.cell_col(F.col("lon"), F.col("lat"), level).alias(f"c{level}")
        for level in range(C.MAX_LEVEL + 1)]).toPandas()
    for level in range(C.MAX_LEVEL + 1):
        want = C.np_cell(lon, lat, level)
        assert (got[f"c{level}"].to_numpy() == want).all(), f"level {level}"


def test_cell_column_is_linear_in_the_level():
    # the Morton spread reads each axis index once per 6-bit chunk: a
    # level-L cell id names lon and lat ceil(L/6) times each (a tree
    # that doubles per spread step would name them 32 times)
    import re

    for level in range(C.MAX_LEVEL + 1):
        text = C.cell_col(F.col("lon"), F.col("lat"), level)._jc.toString()
        bound = -(-max(level, 1) // 6)
        for name in ("lon", "lat"):
            reads = len(re.findall(rf"\b{name}\b", text))
            assert 1 <= reads <= bound, (level, name, reads)


def test_cell_parent_and_decode_roundtrip(spark):
    rng = np.random.default_rng(8)
    lon = rng.uniform(-180, 180, 200)
    lat = rng.uniform(-89, 89, 200)
    cell = C.np_cell(lon, lat, 12)
    # parent hierarchy: parent at L' contains the same point encoded at L'
    par = C.np_cell_parent(cell, 5)
    direct = C.np_cell(lon, lat, 5)
    assert (par == direct).all()
    # Column parent matches numpy parent
    df = spark.createDataFrame(pd.DataFrame({"cell": cell}))
    got = np.array(
        df.select(C.cell_parent_col(F.col("cell"), 12, 5).alias("p")).toPandas()["p"]
    )
    assert (got == par).all()
    # decode roundtrip: center of the cell re-encodes to the same cell
    clon, clat = C.np_cell_to_lonlat(cell)
    assert (C.np_cell(clon, clat, 12) == cell).all()


def _block_ref(ix, iy, rx, ry, level):
    """The cells of one (2rx+1) x (2ry+1) block, enumerated one by one:
    longitude wraps, rows past a pole are dropped."""
    n = 1 << level
    out = set()
    for dx in range(-rx, rx + 1):
        for dy in range(-ry, ry + 1):
            if 0 <= iy + dy < n:
                m = C._np_spread(np.array([(ix + dx) % n])) \
                    | (C._np_spread(np.array([iy + dy])) << 1)
                out.add(int((m[0] << 5) | level))
    return out


def test_np_block_matches_np_cell_ring():
    # the one ring builder against the dense numpy ring, compared as
    # sets: antimeridian cells, pole rows, full-wrap rings (2r+1 >=
    # 2^level, levels 0, 2 and 3) whose wrapped columns np_cell_ring
    # repeats; _np_block lists each cell once
    rng = np.random.default_rng(9)
    lon = np.concatenate([rng.uniform(-180, 180, 40),
                          [-180.0, 180.0, 179.99, -179.99, 0.0, 0.0, 179.99]])
    lat = np.concatenate([rng.uniform(-90, 90, 40),
                          [0.0, 0.0, 45.0, -45.0, 90.0, -90.0, 89.99]])
    for level, rs in [(0, (0, 1, 2)), (3, (0, 1, 3)), (7, (0, 1, 3)),
                      (12, (0, 1, 3)), (2, (3,)), (3, (4,))]:
        cell = C.np_cell(lon, lat, level)
        ix, iy, _ = C.np_cell_decode(cell)
        for r in rs:
            row, got = C._np_block(ix, iy, r, r, level)
            assert (np.diff(row) >= 0).all(), (level, r)
            for i, c in enumerate(cell):
                mine = got[row == i]
                want = {int(v) for v in C.np_cell_ring(c, r)[0] if v >= 0}
                assert len(mine) == len(want), (level, r, i)
                assert set(mine.tolist()) == want, (level, r, i)
    # per-row spans with rx != ry, against the one-by-one enumeration
    for level in (0, 3, 7):
        cell = C.np_cell(lon, lat, level)
        ix, iy, _ = C.np_cell_decode(cell)
        rx = rng.integers(0, (1 << level) + 2, len(cell))
        ry = rng.integers(0, 4, len(cell))
        row, got = C._np_block(ix, iy, rx, ry, level)
        for i in range(len(cell)):
            mine = got[row == i]
            want = _block_ref(int(ix[i]), int(iy[i]), int(rx[i]), int(ry[i]), level)
            assert len(mine) == len(want), (level, i)
            assert set(mine.tolist()) == want, (level, i)
    # the row budget is checked before any cell is built
    assert C._np_block([0], [0], [2], [1], 3, max_rows=9) is None
    assert len(C._np_block([0], [0], [2], [1], 3, max_rows=10)[1]) == 10


_BOXES = {"mid": (-10.0, -10.0, 20.0, 15.0), "east": (170.0, -5.0, 180.0, 5.0),
          "west": (-180.0, 10.0, -170.0, 20.0), "north": (-40.0, 80.0, 40.0, 90.0),
          "south": (100.0, -90.0, 140.0, -70.0), "world": (-180.0, -90.0, 180.0, 90.0),
          "tiny": (3.3, 4.4, 3.31, 4.41)}


def _box_ring(x0, y0, x1, y1):
    return [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]


def _cover_cells(spark, rings, level):
    """The driver-side cover of a layer ``{poly_id: rings}``: cells per
    polygon position, after the real executor pass."""
    from proj_spark.operators import joins as J

    polys = spark.createDataFrame(pd.DataFrame(
        {"poly_id": list(rings), "rings": list(rings.values())}))
    pack = J._collect_pack(polys, "poly_id", "rings")
    t = J._cover(pack.pids, pack.bbox, level, "poly_id")
    got = {}
    for pos, cell in zip(t.column("__pip_pos").to_pylist(),
                         t.column("cell").to_pylist()):
        got.setdefault(pack.pids[pos].as_py(), []).append(cell)
    return got


def test_pip_covering_cells_match_numpy_bbox_cover(spark):
    rings = {k: [_box_ring(*b)] for k, b in _BOXES.items()}
    for level in (0, 3, 7):
        got = _cover_cells(spark, rings, level)
        for pid, (x0, y0, x1, y1) in _BOXES.items():
            (ix0, ix1), (iy0, iy1) = C._np_ij([x0, x1], [y0, y1], level)
            gx, gy = np.meshgrid(np.arange(ix0, ix1 + 1), np.arange(iy0, iy1 + 1))
            morton = C._np_spread(gx.ravel()) | (C._np_spread(gy.ravel()) << 1)
            want = (morton << 5) | level
            assert sorted(got[pid]) == sorted(want.tolist()), (level, pid)


def test_pip_cover_holds_the_cell_col_of_every_bbox_point(spark):
    # the driver-side cover is numpy; points get their cell from the JVM
    # cell_col: a point inside a polygon's bbox must meet that polygon
    rng = np.random.default_rng(41)
    rings = {k: [_box_ring(*b)] for k, b in _BOXES.items()}
    for i in range(6):
        rings[f"star{i}"] = [_random_convex_polygon(
            rng, rng.uniform(-170, 170), rng.uniform(-80, 80), rng.uniform(0.01, 9.0))]
    rows = []
    for pid, r in rings.items():
        ext = np.array(r[0])
        lo, hi = ext.min(axis=0), ext.max(axis=0)
        for x, y in rng.uniform(lo, hi, (60, 2)).tolist() + [lo.tolist(), hi.tolist()]:
            rows.append((pid, x, y))
    pts = spark.createDataFrame(pd.DataFrame(rows, columns=["poly_id", "lon", "lat"]))
    for level in (0, 4, 8, 11):
        if level == 11:  # the world box alone is 2^22 cells at 11
            for big in ("world", "north", "south", "mid"):
                rings.pop(big)
        cover = {k: set(v) for k, v in _cover_cells(spark, rings, level).items()}
        got = pts.where(F.col("poly_id").isin(list(rings))).select(
            "poly_id", C.cell_col(F.col("lon"), F.col("lat"), level)).collect()
        assert len(got) == 62 * len(rings)
        for pid, cell in got:
            assert cell in cover[pid], (level, pid)


def test_pip_join_repeated_poly_id_tests_each_polygon(spark):
    # two unit squares both named "a": each candidate carries its own
    # polygon's position, so both points are hits, as the even-odd brute
    # force says
    polys = spark.createDataFrame(pd.DataFrame({
        "poly_id": ["a", "a"],
        "rings": [[_box_ring(0.0, 0.0, 1.0, 1.0)], [_box_ring(10.0, 0.0, 11.0, 1.0)]]}))
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": [0, 1, 2], "lon": [0.5, 10.5, 5.0], "lat": [0.5, 0.5, 0.5]}))
    from proj_spark.operators.joins import _np_point_in_rings

    want = set()
    for ring in ([_box_ring(0.0, 0.0, 1.0, 1.0)], [_box_ring(10.0, 0.0, 11.0, 1.0)]):
        inside = _np_point_in_rings(np.array([0.5, 10.5, 5.0]),
                                    np.array([0.5, 0.5, 0.5]), ring)
        want |= {(int(i), "a") for i in np.flatnonzero(inside)}
    assert want == {(0, "a"), (1, "a")}
    for level, max_bytes in ((None, 256 << 20), (6, 256 << 20), (6, 64)):
        got = pip_join(pts, polys, level=level, max_broadcast_bytes=max_bytes)
        assert {(int(r[0]), r[1]) for r in
                got.select("point_id", "poly_id").collect()} == want, level


def test_pip_join_adaptive_level_skips_nan_boxes(spark, tmp_path):
    # a NaN x vertex on a polygon's exterior ring takes part in no pair:
    # that polygon has no box, no span and no hit at any level, and the
    # adaptive level comes from the other boxes (it raised on the NaN
    # mean once, and the NaN polygon's hits once depended on the level)
    rings = {"nan": [[[5.0, 5.0], [np.nan, 6.0], [8.0, 9.0], [5.0, 5.0]]],
             "sq": [_box_ring(0.0, 0.0, 2.0, 2.0)]}
    pd.DataFrame({"poly_id": list(rings), "rings": list(rings.values())}
                 ).to_parquet(tmp_path / "polys.parquet")
    polys = spark.read.parquet(str(tmp_path / "polys.parquet"))
    g = np.linspace(-1.0, 10.0, 45)
    lon, lat = (a.ravel() for a in np.meshgrid(g, g))
    pts = spark.createDataFrame(pd.DataFrame(
        {"point_id": np.arange(len(lon)), "lon": lon, "lat": lat}))
    from proj_spark.operators.joins import _np_point_in_rings

    want = {int(i) for i in
            np.flatnonzero(_np_point_in_rings(lon, lat, rings["sq"]))}
    assert want
    for level in (None, 4, 8):
        got = {"nan": set(), "sq": set()}
        for r in pip_join(pts, polys, level=level).select(
                "point_id", "poly_id").collect():
            got[r[1]].add(int(r[0]))
        assert got == {"nan": set(), "sq": want}, level


def test_cell_level_out_of_range_raises(spark):
    # a real error, not an assert: level 27 would overflow the morton bits
    for level in (-1, C.MAX_LEVEL + 1):
        with pytest.raises(ValueError):
            C.cell_col(F.col("lon"), F.col("lat"), level)
        with pytest.raises(ValueError):
            C.np_cell([0.0], [0.0], level)
    pts = spark.createDataFrame(pd.DataFrame(
        {"point_id": [0], "lon": [0.0], "lat": [0.0]}))
    qs = spark.createDataFrame(pd.DataFrame(
        {"query_id": [0], "lon": [0.0], "lat": [0.0]}))
    with pytest.raises(ValueError, match="level"):
        knn_join(pts, qs, k=1, level=C.MAX_LEVEL + 1)


def test_tiles_match_numpy_and_bounds(spark):
    rng = np.random.default_rng(10)
    lon = rng.uniform(-180, 180, 300)
    lat = rng.uniform(-85, 85, 300)
    for zoom in (0, 7, 20):
        x = np.concatenate([lon, _EDGE_LON, _NONFINITE[0]])
        y = np.concatenate([lat, _EDGE_LAT, _NONFINITE[1]])
        out = T.with_tiles(_lonlat_df(spark, x, y), zoom=zoom).toPandas()
        tx, ty = T.np_tile(x, y, zoom)
        assert (out["tile_x"].to_numpy() == tx).all(), zoom
        assert (out["tile_y"].to_numpy() == ty).all(), zoom
    tx, ty = T.np_tile(lon, lat, 7)
    # every point falls inside its tile's bounds
    for i in range(0, 300, 37):
        w, s, e, n = T.tile_bounds(7, int(tx[i]), int(ty[i]))
        assert w - 1e-9 <= lon[i] <= e + 1e-9
        assert s - 1e-9 <= lat[i] <= n + 1e-9


def test_tile_rollup(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"lon": [0.1, 0.2, 120.0], "lat": [0.1, 0.2, 45.0]})
    )
    roll = T.tile_rollup(T.with_tiles(df, zoom=3)).toPandas()
    total = roll[roll["zoom"].isna()]["n"]
    assert int(total.iloc[0]) == 3


def _random_convex_polygon(rng, cx, cy, r, n=8):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    xs = cx + r * np.cos(ang)
    ys = cy + r * 0.7 * np.sin(ang)
    ring = [[float(x), float(y)] for x, y in zip(xs, ys)]
    ring.append(ring[0])
    return ring


def test_pip_join_matches_bruteforce(spark):
    rng = np.random.default_rng(11)
    npts = 2000
    lon = rng.uniform(-20, 20, npts)
    lat = rng.uniform(-20, 20, npts)
    pts = spark.createDataFrame(
        pd.DataFrame({"point_id": np.arange(npts), "lon": lon, "lat": lat})
    )
    polys = []
    for i in range(6):
        ring = _random_convex_polygon(rng, rng.uniform(-15, 15), rng.uniform(-15, 15), 4.0)
        polys.append({"poly_id": f"p{i}", "rings": [ring]})
    polys_df = spark.createDataFrame(pd.DataFrame(polys))

    got = (
        pip_join(pts, polys_df, level=6)
        .select("point_id", "poly_id")
        .toPandas()
        .sort_values(["point_id", "poly_id"])
        .reset_index(drop=True)
    )
    # brute force numpy oracle
    from proj_spark.operators.joins import _np_point_in_rings

    rows = []
    for p in polys:
        inside = _np_point_in_rings(lon, lat, [np.array(p["rings"][0])])
        for pid in np.nonzero(inside)[0]:
            rows.append((int(pid), p["poly_id"]))
    want = (
        pd.DataFrame(rows, columns=["point_id", "poly_id"])
        .sort_values(["point_id", "poly_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) and len(want) > 50
    assert (got["point_id"].values == want["point_id"].values).all()
    assert (got["poly_id"].values == want["poly_id"].values).all()


def test_pip_join_with_hole_and_anti(spark):
    # square with a square hole: points in the hole are NOT contained
    outer = [[-10.0, -10.0], [10.0, -10.0], [10.0, 10.0], [-10.0, 10.0], [-10.0, -10.0]]
    hole = [[-2.0, -2.0], [2.0, -2.0], [2.0, 2.0], [-2.0, 2.0], [-2.0, -2.0]]
    polys = spark.createDataFrame(
        pd.DataFrame([{"poly_id": "donut", "rings": [outer, hole]}])
    )
    pts = spark.createDataFrame(
        pd.DataFrame(
            {"point_id": [0, 1, 2], "lon": [0.0, 5.0, 50.0], "lat": [0.0, 5.0, 5.0]}
        )
    )
    hits = pip_join(pts, polys, level=5).select("point_id").toPandas()
    assert set(hits["point_id"]) == {1}
    anti = pip_anti_join(pts, polys, level=5).select("point_id").toPandas()
    assert set(anti["point_id"]) == {0, 2}


def test_knn_join_matches_bruteforce(spark):
    rng = np.random.default_rng(12)
    npts, nq, k = 3000, 40, 5
    lon = rng.uniform(-30, 30, npts)
    lat = rng.uniform(-30, 30, npts)
    qlon = rng.uniform(-25, 25, nq)
    qlat = rng.uniform(-25, 25, nq)
    pts = spark.createDataFrame(
        pd.DataFrame({"point_id": np.arange(npts), "lon": lon, "lat": lat})
    )
    qs = spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(nq), "lon": qlon, "lat": qlat})
    )
    got = (
        knn_join(pts, qs, k=k, level=6, ring=1)
        .select("query_id", "point_id", "rank")
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    # numpy haversine brute force
    R = 6371008.8
    p1 = np.radians(lat)[None, :]
    p2 = np.radians(qlat)[:, None]
    dphi = (p1 - p2) / 2
    dlam = (np.radians(lon)[None, :] - np.radians(qlon)[:, None]) / 2
    h = np.sin(dphi) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlam) ** 2
    dist = 2 * R * np.arcsin(np.minimum(1.0, np.sqrt(h)))
    assert len(got) == nq * k
    for qi in range(nq):
        order = np.lexsort((np.arange(npts), dist[qi]))
        want_ids = list(order[:k])
        got_ids = list(got[got["query_id"] == qi]["point_id"])
        assert got_ids == want_ids, f"query {qi}"


def test_knn_polar_queries_match_bruteforce(spark):
    """Round-7 guard refinement: pole-reaching blocks used to get a
    ~0 m longitude-wall bound (cos(max|lat|) -> 0), so polar queries
    could never prove exact in round 1.  The latitude-split bound must
    stay a TRUE lower bound: polar-query results must still equal the
    haversine brute force exactly."""
    rng = np.random.default_rng(77)
    npts, k = 4000, 5
    lon = rng.uniform(-180, 180, npts)
    lat = rng.uniform(-89.5, 89.5, npts)
    qlon = np.array([-169.7, -156.0, 12.0, 179.0, 0.0])
    qlat = np.array([-79.8, -73.5, 84.2, -88.0, 87.9])
    pts = spark.createDataFrame(
        pd.DataFrame({"point_id": np.arange(npts), "lon": lon, "lat": lat}))
    qs = spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(len(qlon)), "lon": qlon,
                      "lat": qlat}))
    got = (
        knn_join(pts, qs, k=k, level=5, ring=1)
        .select("query_id", "point_id", "rank")
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    R = 6371008.8
    p1 = np.radians(lat)[None, :]
    p2 = np.radians(qlat)[:, None]
    dphi = (p1 - p2) / 2
    dlam = (np.radians(lon)[None, :] - np.radians(qlon)[:, None]) / 2
    h = np.sin(dphi) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlam) ** 2
    dist = 2 * R * np.arcsin(np.minimum(1.0, np.sqrt(h)))
    assert len(got) == len(qlon) * k
    for qi in range(len(qlon)):
        order = np.lexsort((np.arange(npts), dist[qi]))
        want_ids = list(order[:k])
        got_ids = list(got[got["query_id"] == qi]["point_id"])
        assert got_ids == want_ids, f"polar query {qi}"


def test_knn_exact_fallback_sparse(spark):
    # fewer points than ring candidates can supply: fallback must kick in
    pts = spark.createDataFrame(
        pd.DataFrame({"point_id": [0, 1, 2], "lon": [0.0, 90.0, -90.0],
                      "lat": [0.0, 45.0, -45.0]})
    )
    qs = spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "lon": [10.0], "lat": [10.0]})
    )
    got = knn_join(pts, qs, k=3, level=8, ring=1).toPandas()
    assert len(got) == 3
    assert set(got["point_id"]) == {0, 1, 2}
    assert list(got.sort_values("rank")["point_id"]) == [0, 1, 2]


def _np_haversine(lon1, lat1, lon2, lat2):
    R = 6371008.8
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dphi = (p2 - p1) / 2
    dlam = (np.radians(lon2) - np.radians(lon1)) / 2
    h = np.sin(dphi) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlam) ** 2
    return 2 * R * np.arcsin(np.minimum(1.0, np.sqrt(h)))


def test_knn_guard_is_conservative_adversarial(spark):
    """The exactness guard must LOWER-bound the true distance to every
    point outside the ring block — probed at cell edges, high latitude,
    and across the antimeridian (the round-1 guard used a flat 111320
    m/deg and could overstate by ~0.1%)."""
    from proj_spark.operators.joins import _np_block_guard

    cases = [  # (lon, lat, level, ring)
        (179.999999, 0.000001, 16, 1),
        (-179.999999, 50.0000001, 16, 1),
        (11.25, 50.625, 5, 1),          # exactly on a level-5 cell corner
        (0.0, 89.0, 8, 1),              # near-pole, tiny cos(lat)
        (-122.4, 37.7, 12, 1),
        (10.0000001, 49.9999999, 16, 2),
        (45.0, -89.5, 10, 1),
    ]
    for lon, lat, level, ring in cases:
        guard = _np_block_guard(np.array([lon]), np.array([lat]), level, ring)[0]
        # reconstruct the block and sample just-outside points densely
        n = 1 << level
        ix = min(max(math.floor((lon + 180.0) / 360.0 * n), 0), n - 1)
        iy = min(max(math.floor((lat + 90.0) / 180.0 * n), 0), n - 1)
        west = (ix - ring) * 360.0 / n - 180.0
        east = (ix + ring + 1) * 360.0 / n - 180.0
        south = (iy - ring) * 180.0 / n - 90.0
        north = (iy + ring + 1) * 180.0 / n - 90.0
        eps = 1e-9
        samples = []
        ts = np.linspace(0.0, 1.0, 4001)
        if south > -90.0:
            samples.append((west + ts * (east - west), np.full_like(ts, south - eps)))
        if north < 90.0:
            samples.append((west + ts * (east - west), np.full_like(ts, north + eps)))
        lat_lo, lat_hi = max(south, -90.0), min(north, 90.0)
        samples.append((np.full_like(ts, west - eps), lat_lo + ts * (lat_hi - lat_lo)))
        samples.append((np.full_like(ts, east + eps), lat_lo + ts * (lat_hi - lat_lo)))
        slon = np.concatenate([s[0] for s in samples])
        slat = np.clip(np.concatenate([s[1] for s in samples]), -90.0, 90.0)
        # wrap sampled lon into [-180, 180] (haversine is wrap-periodic)
        slon = (slon + 180.0) % 360.0 - 180.0
        true_min = _np_haversine(lon, lat, slon, slat).min()
        assert guard <= true_min + 1e-6, (
            f"guard {guard} exceeds true boundary distance {true_min} "
            f"at lon={lon} lat={lat} level={level} ring={ring}"
        )


def test_knn_antimeridian_wrap(spark):
    # nearest neighbors straddle the antimeridian: the candidate ring
    # must wrap in longitude and the result must stay exact
    rng = np.random.default_rng(13)
    lon = np.concatenate([rng.uniform(179.3, 180.0, 60),
                          rng.uniform(-180.0, -179.3, 60),
                          rng.uniform(-30, 30, 400)])
    lat = np.concatenate([rng.uniform(-5, 5, 120), rng.uniform(-60, 60, 400)])
    pts = spark.createDataFrame(
        pd.DataFrame({"point_id": np.arange(len(lon)), "lon": lon, "lat": lat})
    )
    qs = spark.createDataFrame(
        pd.DataFrame({"query_id": [0, 1], "lon": [-179.95, 179.97],
                      "lat": [0.3, -0.2]})
    )
    got = (
        knn_join(pts, qs, k=7, level=7, ring=1)
        .select("query_id", "point_id", "rank")
        .toPandas().sort_values(["query_id", "rank"])
    )
    for qi, (qlo, qla) in enumerate([(-179.95, 0.3), (179.97, -0.2)]):
        d = _np_haversine(qlo, qla, lon, lat)
        want = list(np.lexsort((np.arange(len(lon)), d))[:7])
        assert list(got[got["query_id"] == qi]["point_id"]) == want


def test_knn_parity_across_levels_and_without_the_pre_limit(spark):
    rng = np.random.default_rng(14)
    npts, nq, k = 2500, 30, 4
    lon = rng.uniform(-40, 40, npts)
    lat = rng.uniform(-40, 40, npts)
    qlon = rng.uniform(-35, 35, nq)
    qlat = rng.uniform(-35, 35, nq)
    pts = spark.createDataFrame(
        pd.DataFrame({"point_id": np.arange(npts), "lon": lon, "lat": lat})
    ).repartition(8)
    qs = spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(nq), "lon": qlon, "lat": qlat})
    )
    base = (
        knn_join(pts, qs, k=k)  # adaptive level
        .select("query_id", "point_id", "rank").toPandas()
        .sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert len(base) == nq * k
    # exactness vs numpy brute force
    d = _np_haversine(qlon[:, None], qlat[:, None], lon[None, :], lat[None, :])
    for qi in range(nq):
        want = list(np.lexsort((np.arange(npts), d[qi]))[:k])
        assert list(base[base["query_id"] == qi]["point_id"]) == want
    # a coarse pinned level (many candidates per query) and the plain
    # window (Spark's per-partition pre-limit switched off) return the
    # identical rows
    def rows(**kw):
        return (knn_join(pts, qs, k=k, **kw)
                .select("query_id", "point_id", "rank").toPandas()
                .sort_values(["query_id", "rank"]).reset_index(drop=True))

    assert rows(level=2).equals(base)
    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    spark.conf.set(key, "-1")
    try:
        assert rows().equals(base)
    finally:
        spark.conf.unset(key)


def test_knn_near_pole_exact(spark):
    # cos(max|lat|) ~ 0 kills the longitude guard near the pole; the
    # operator must still return exact results via fallback
    rng = np.random.default_rng(15)
    lon = rng.uniform(-180, 180, 300)
    lat = rng.uniform(85.0, 90.0, 300)
    pts = spark.createDataFrame(
        pd.DataFrame({"point_id": np.arange(300), "lon": lon, "lat": lat})
    )
    qs = spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "lon": [12.0], "lat": [89.9]})
    )
    got = knn_join(pts, qs, k=5, level=6, ring=1).toPandas()
    d = _np_haversine(12.0, 89.9, lon, lat)
    want = list(np.lexsort((np.arange(300), d))[:5])
    assert list(got.sort_values("rank")["point_id"]) == want


def _knn_rows(df) -> pd.DataFrame:
    return (df.select("query_id", "point_id", "rank", "dist_m").toPandas()
            .sort_values(["query_id", "rank"]).reset_index(drop=True))


def _knn_sparse_inputs(spark):
    """A cluster, two outlying points, and four queries: two inside the
    cluster, one beside the outliers (2 ring-1 candidates at level 6)
    and one with no candidate within ring 4 at level 6."""
    rng = np.random.default_rng(16)
    lon = np.concatenate([rng.uniform(-20, 20, 1500), [60.0, 61.0]])
    lat = np.concatenate([rng.uniform(-20, 20, 1500), [10.0, 10.5]])
    qlon = np.array([0.0, -12.0, 60.5, 100.0])
    qlat = np.array([0.0, 8.0, 10.2, 40.0])
    pts = spark.createDataFrame(pd.DataFrame(
        {"point_id": np.arange(len(lon)), "lon": lon, "lat": lat}))
    qs = spark.createDataFrame(pd.DataFrame(
        {"query_id": np.arange(len(qlon)), "lon": qlon, "lat": qlat}))
    return pts, qs, lon, lat, qlon, qlat


def _assert_knn_exact(got, k, lon, lat, qlon, qlat, queries) -> None:
    d = _np_haversine(qlon[:, None], qlat[:, None], lon[None, :], lat[None, :])
    for qi in queries:
        want = np.lexsort((np.arange(len(lon)), d[qi]))[:k]
        g = got[got["query_id"] == qi]
        assert list(g["point_id"]) == list(want), f"query {qi}"
        assert list(g["rank"]) == list(range(1, k + 1)), f"query {qi}"
        assert np.allclose(g["dist_m"], d[qi][want], rtol=0, atol=1e-6)


@pytest.mark.parametrize("n_points", [1502, None],
                         ids=["brute_gate", "expansion"])
def test_knn_zero_candidate_query_exact(spark, n_points):
    # query 3 has no candidate in its ring-1 block.  With n_points the
    # pair-budget gate sends it straight to the brute-force pass; with a
    # pinned level and no point count it first takes the expansion
    # round (also empty), then the brute pass.  Both paths are exact.
    pts, qs, lon, lat, qlon, qlat = _knn_sparse_inputs(spark)
    got = _knn_rows(knn_join(pts, qs, k=5, level=6, n_points=n_points))
    assert len(got) == 5 * len(qlon)
    _assert_knn_exact(got, 5, lon, lat, qlon, qlat, range(len(qlon)))


def test_knn_repeated_and_null_query_ids_rank_each_query(spark):
    # the driver reads a round's rows back by query id: a repeated or
    # NULL id cannot be told apart there, so those queries take the
    # brute pass, which ranks every query row on its own
    pts, _, lon, lat, qlon, qlat = _knn_sparse_inputs(spark)
    ids = [7, 7, None, 3]
    qs = spark.createDataFrame(
        [(i, float(x), float(y)) for i, x, y in zip(ids, qlon, qlat)],
        "query_id long, lon double, lat double")
    got = knn_join(pts, qs, k=5, level=6, n_points=1502).select(
        "query_id", "q_lon", "point_id", "rank").toPandas()
    d = _np_haversine(qlon[:, None], qlat[:, None], lon[None, :], lat[None, :])
    for qi in range(len(qlon)):
        g = got[got["q_lon"] == qlon[qi]].sort_values("rank")
        want = np.lexsort((np.arange(len(lon)), d[qi]))[:5]
        assert list(g["point_id"]) == list(want), f"query {qi}"
        assert list(g["rank"]) == [1, 2, 3, 4, 5], f"query {qi}"


def test_knn_no_fallback_is_ring_topk_without_sentinels(spark):
    # exact_fallback=False returns round 1's ring-1 top-k as it is: up
    # to k rows per query, only 2 for the query beside the outliers,
    # none for the query with no candidate — and never a sentinel row
    pts, qs, lon, lat, qlon, qlat = _knn_sparse_inputs(spark)
    k, level = 5, 6
    got = _knn_rows(knn_join(pts, qs, k=k, level=level, exact_fallback=False))
    assert got["point_id"].notna().all()
    pcell = C.np_cell(lon, lat, level)
    want = []
    for qi in range(len(qlon)):
        ring = C.np_cell_ring(C.np_cell(qlon[qi], qlat[qi], level), 1)[0]
        cand = np.flatnonzero(np.isin(pcell, ring[ring >= 0]))
        d = _np_haversine(qlon[qi], qlat[qi], lon[cand], lat[cand])
        order = np.lexsort((cand, d))[:k]
        want += [(qi, int(cand[o]), r + 1) for r, o in enumerate(order)]
    assert [tuple(map(int, t)) for t in
            got[["query_id", "point_id", "rank"]].itertuples(index=False)] == want
    assert (got["query_id"] == 2).sum() == 2
    assert (got["query_id"] == 3).sum() == 0


@pytest.mark.parametrize("n_points", [600, None],
                         ids=["brute_gate", "expansion"])
def test_knn_nan_point_and_query(spark, n_points):
    # the pandas NaNs arrive as NULL coordinates: the NULL point must
    # not displace a finite neighbour of the queries, the NULL query
    # gets no row (no NULL-id sentinel either), and finite queries
    # stay exact
    rng = np.random.default_rng(17)
    lon = rng.uniform(-180.0, -170.0, 600)
    lat = rng.uniform(-90.0, -80.0, 600)
    lon[7] = lat[7] = np.nan
    qlon = np.array([-175.0, -179.5, -176.0, np.nan])
    qlat = np.array([-85.0, -89.5, -88.9, np.nan])
    pts = spark.createDataFrame(pd.DataFrame(
        {"point_id": np.arange(len(lon)), "lon": lon, "lat": lat}))
    qs = spark.createDataFrame(pd.DataFrame(
        {"query_id": np.arange(len(qlon)), "lon": qlon, "lat": qlat}))
    got = _knn_rows(knn_join(pts, qs, k=4, level=6, n_points=n_points))
    assert got["point_id"].notna().all()
    assert 7 not in set(got["point_id"])
    assert len(got) == 4 * 3
    _assert_knn_exact(got, 4, lon, lat, qlon, qlat, range(3))  # NaN sorts last
    assert (got["query_id"] == 3).sum() == 0


_NON_FINITE = [(np.nan, 10.0), (10.0, np.nan), (np.nan, np.nan),
               (np.inf, 10.0), (10.0, -np.inf), (-np.inf, np.inf),
               (None, 10.0), (10.0, None), (None, None)]


def _non_finite_inputs(spark, n_fin):
    """``n_fin`` finite points near (10, 10) plus one point per
    non-finite (lon, lat) pattern (NULL included), and four finite
    queries plus one per pattern.  Point ids: finite first; query ids:
    finite first.  The numpy arrays hold NaN for a NULL."""
    rng = np.random.default_rng(23)
    lon = list(rng.uniform(8.0, 12.0, n_fin)) + [a for a, _ in _NON_FINITE]
    lat = list(rng.uniform(8.0, 12.0, n_fin)) + [b for _, b in _NON_FINITE]
    qlon = [10.0, 9.0, 11.5, -170.0] + [a for a, _ in _NON_FINITE]
    qlat = [10.0, 11.0, 8.5, -85.0] + [b for _, b in _NON_FINITE]

    def rows(xs, ys):
        return [(i, None if a is None else float(a), None if b is None else float(b))
                for i, (a, b) in enumerate(zip(xs, ys))]

    # rows, not pandas: Arrow would turn a pandas NaN into NULL
    pts = spark.createDataFrame(rows(lon, lat), "point_id long, lon double, lat double")
    qs = spark.createDataFrame(rows(qlon, qlat), "query_id long, lon double, lat double")
    return (pts, qs) + tuple(np.array(v, dtype=np.float64)
                             for v in (lon, lat, qlon, qlat))


@pytest.mark.parametrize("n_fin, k", [(300, 5), (3, 5)],
                         ids=["dense", "fewer_than_k"])
def test_knn_non_finite_inputs_take_no_pair(spark, n_fin, k):
    # NULL, NaN, +Inf and -Inf in lon, lat or both, on either side: a
    # non-finite query gets no row, a non-finite point is nobody's
    # neighbour, and a finite query with fewer than k finite points
    # gets only those (the query at (-170, -85) has no ring candidate,
    # so it takes the brute pass)
    pts, qs, lon, lat, qlon, qlat = _non_finite_inputs(spark, n_fin)
    for n_points in (len(lon), None):
        got = _knn_rows(knn_join(pts, qs, k=k, level=6, n_points=n_points))
        assert set(got["query_id"]) == {0, 1, 2, 3}
        assert got["point_id"].max() < n_fin
        kk = min(k, n_fin)
        assert len(got) == 4 * kk
        _assert_knn_exact(got, kk, lon[:n_fin], lat[:n_fin], qlon, qlat, range(4))


def test_pip_join_many_polygons_executor_side(spark):
    """10^5 polygons must expand to covering cells on executors (the
    round-1 driver-side toPandas+iterrows path stalls here)."""
    n_poly = 100_000
    polys = spark.range(n_poly).select(
        F.concat(F.lit("r"), F.col("id")).alias("poly_id"),
        F.expr(
            "array(array("
            "array((id % 3600) * 0.1 - 180.0, ((id * 7) % 1700) * 0.1 - 85.0),"
            "array((id % 3600) * 0.1 - 180.0 + 0.08, ((id * 7) % 1700) * 0.1 - 85.0),"
            "array((id % 3600) * 0.1 - 180.0 + 0.08, ((id * 7) % 1700) * 0.1 - 85.0 + 0.08),"
            "array((id % 3600) * 0.1 - 180.0, ((id * 7) % 1700) * 0.1 - 85.0 + 0.08),"
            "array((id % 3600) * 0.1 - 180.0, ((id * 7) % 1700) * 0.1 - 85.0)"
            "))"
        ).alias("rings"),
    )
    rng = np.random.default_rng(16)
    lon = rng.uniform(-180, 179.9, 400)
    lat = rng.uniform(-85, 84.9, 400)
    pts = spark.createDataFrame(
        pd.DataFrame({"point_id": np.arange(400), "lon": lon, "lat": lat})
    )
    got = pip_join(pts, polys, level=8).select("point_id", "poly_id").toPandas()
    # numpy oracle: strict-interior test of each point against its rects
    ids = np.arange(n_poly)
    lon0 = (ids % 3600) * 0.1 - 180.0
    lat0 = ((ids * 7) % 1700) * 0.1 - 85.0
    inside = (
        (lon[:, None] > lon0[None, :]) & (lon[:, None] < lon0[None, :] + 0.08)
        & (lat[:, None] > lat0[None, :]) & (lat[:, None] < lat0[None, :] + 0.08)
    )
    want = {(int(p), f"r{int(r)}") for p, r in zip(*np.nonzero(inside))}
    assert {(int(r["point_id"]), r["poly_id"]) for _, r in got.iterrows()} == want


def test_haversine_known_value(spark):
    # Paris -> London ~ 343.5 km
    df = spark.createDataFrame([(2.3522, 48.8566, -0.1276, 51.5072)],
                               "lon1 double, lat1 double, lon2 double, lat2 double")
    d = df.select(
        haversine_col(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("d")
    ).collect()[0]["d"]
    assert abs(d - 343_500) < 1_500


def test_pip_join_left_and_empty_edges(spark):
    polys = spark.createDataFrame(pd.DataFrame([{
        "poly_id": "box",
        "rings": [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0],
                   [0.0, 0.0]]],
    }]))
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": [0, 1], "lon": [5.0, 50.0], "lat": [5.0, 5.0]}))
    left = pip_join(pts, polys, level=6, how="left").toPandas()
    byid = left.set_index("point_id")
    assert byid.loc[0, "poly_id"] == "box"
    assert pd.isna(byid.loc[1, "poly_id"])
    # empty polygon side: inner empty, left keeps all points with nulls
    empty = polys.limit(0)
    assert pip_join(pts, empty, level=6).count() == 0
    l2 = pip_join(pts, empty, level=6, how="left").toPandas()
    assert len(l2) == 2 and l2["poly_id"].isna().all()
    # a polygon with no rings has no cover and no hit (its exterior
    # ring used to be read as rings[0], out of bounds under ANSI)
    ringless = polys.unionByName(spark.createDataFrame(
        pd.DataFrame([{"poly_id": "none", "rings": []}]), polys.schema))
    for level in (None, 6):
        got = pip_join(pts, ringless, level=level).select("point_id", "poly_id")
        assert [tuple(r) for r in got.collect()] == [(0, "box")]


def test_knn_join_empty_queries(spark):
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": [0, 1], "lon": [5.0, 50.0], "lat": [5.0, 5.0]}))
    qs = spark.createDataFrame(
        pd.DataFrame({"query_id": [], "lon": [], "lat": []}),
        schema="query_id long, lon double, lat double")
    assert knn_join(pts, qs, k=2, level=6).count() == 0


def test_knn_join_query_collect_is_bounded(spark, monkeypatch):
    # the queries' collect stops at the bound plus one row; past the
    # bound the call raises, naming it, before any ring job runs
    from proj_spark.operators import joins as J

    monkeypatch.setattr(J, "_KNN_MAX_QUERIES", 2)
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": [0, 1], "lon": [5.0, 50.0], "lat": [5.0, 5.0]}))
    qs = spark.createDataFrame(pd.DataFrame({
        "query_id": [0, 1, 2], "lon": [5.0, 6.0, 7.0], "lat": [5.0] * 3}))
    sc = spark.sparkContext
    sc.setJobGroup("knn_query_bound", "knn_query_bound")
    try:
        with pytest.raises(ValueError, match="at most 2 "):
            knn_join(pts, qs, k=1, level=6, n_points=2)
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("knn_query_bound")
    assert 1 <= len(jobs) <= 2  # the collect (AQE may run its stage first)
    assert knn_join(pts, qs.limit(2), k=1, level=6, n_points=2).count() == 2


def test_pip_join_chunked_matches_unchunked(spark):
    # auto partition-and-union above the broadcast byte threshold must
    # be invisible in the results (inner, anti AND left)
    rng = np.random.default_rng(31)
    rows = []
    for i in range(60):
        cx, cy = rng.uniform(-50, 50), rng.uniform(-50, 50)
        rows.append({"poly_id": f"p{i}",
                     "rings": [_random_convex_polygon(rng, cx, cy, 3.0)]})
    polys = spark.createDataFrame(pd.DataFrame(rows))
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": np.arange(1500),
        "lon": rng.uniform(-55, 55, 1500),
        "lat": rng.uniform(-55, 55, 1500),
    }))

    def _set(df):
        return {(int(r["point_id"]), r["poly_id"])
                for r in df.select("point_id", "poly_id").collect()}

    one = _set(pip_join(pts, polys, level=6))
    # 60 polys x ~9 edges x 32 B ~ 17 kB -> a 2 kB cap forces ~9 chunks
    many = _set(pip_join(pts, polys, level=6, max_broadcast_bytes=2048))
    assert one == many and len(one) > 0
    left_many = pip_join(pts, polys, level=6, how="left",
                         max_broadcast_bytes=2048)
    matched = left_many.where(F.col("poly_id").isNotNull())
    assert _set(matched) == one
    anti_one = {int(r["point_id"]) for r in
                pip_anti_join(pts, polys, level=6).select("point_id").collect()}
    anti_many = {int(r["point_id"]) for r in
                 pip_anti_join(pts, polys, level=6, max_broadcast_bytes=2048)
                 .select("point_id").collect()}
    assert anti_one == anti_many


def test_pip_join_chunked_never_collects_whole_layer(spark, monkeypatch):
    # the first job brings at most max_broadcast_bytes of edges to the
    # driver (a partition over its share sends only its counts); then
    # each chunk packs only its own polygons
    from proj_spark.operators import joins as J

    rng = np.random.default_rng(37)
    rows = []
    for i in range(40):
        ring = _random_convex_polygon(rng, rng.uniform(-50, 50),
                                      rng.uniform(-50, 50), 3.0)
        rows.append({"poly_id": f"p{i}", "rings": [ring]})
    layer_edges = sum(len(r["rings"][0]) - 1 for r in rows)
    polys = spark.createDataFrame(pd.DataFrame(rows))
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": np.arange(1200),
        "lon": rng.uniform(-55, 55, 1200),
        "lat": rng.uniform(-55, 55, 1200),
    }))
    packs = []
    assemble = J._assemble_pack

    def assemble_spy(table):
        edge_bytes = sum(len(b) for k in ("x1", "y1", "x2", "y2")
                         for b in table.column(k).to_pylist() if b is not None)
        out = assemble(table)
        packs.append((edge_bytes, out.n_edges,
                      None if out.pids is None else set(out.pids.to_pylist())))
        return out

    def _set(df):
        return {(int(r["point_id"]), r["poly_id"])
                for r in df.select("point_id", "poly_id").collect()}

    monkeypatch.setattr(J, "_assemble_pack", assemble_spy)
    one = _set(pip_join(pts, polys, level=6))
    assert packs == [(layer_edges * 32, layer_edges,
                      {r["poly_id"] for r in rows})]
    del packs[:]
    # 40 polys x 8 edges x 32 B ~ 10 kB -> a 2 kB cap forces 5 chunks
    many = _set(pip_join(pts, polys, level=6, max_broadcast_bytes=2048))
    first, chunks = packs[0], packs[1:]
    assert first[0] <= 2048 and first[1] == layer_edges
    assert len(chunks) == 5 and sum(c[1] for c in chunks) == layer_edges
    assert max(c[1] for c in chunks) < layer_edges
    ids = [c[2] for c in chunks]
    assert set().union(*ids) == {r["poly_id"] for r in rows}
    assert sum(map(len, ids)) == len(rows)  # disjoint chunks
    assert one == many and len(one) > 0


def test_radius_join_exact_vs_bruteforce(spark):
    """Range join exactness: identical pair set to the brute-force
    cross join at three radii, including polar and antimeridian query
    points (the ring bound must never drop an in-radius point)."""
    import warnings

    import numpy as np
    import pandas as pd

    from proj_spark.operators.joins import EARTH_RADIUS_M, radius_join

    rng = np.random.default_rng(5)
    pts = pd.DataFrame({"point_id": range(2500),
                        "lon": rng.uniform(-180, 180, 2500),
                        "lat": rng.uniform(-90, 90, 2500)})
    qs = pd.DataFrame({"query_id": range(8),
                       "lon": [0.0, 179.9, -179.9, 10.0, -60.0, 120.0,
                               0.0, 33.0],
                       "lat": [0.0, 45.0, -45.0, 88.5, -88.0, 30.0,
                               89.9, -89.9]})
    P, Q = spark.createDataFrame(pts), spark.createDataFrame(qs)
    la1 = np.radians(qs["lat"].to_numpy())[:, None]
    lo1 = np.radians(qs["lon"].to_numpy())[:, None]
    la2 = np.radians(pts["lat"].to_numpy())[None, :]
    lo2 = np.radians(pts["lon"].to_numpy())[None, :]
    h = (np.sin((la2 - la1) / 2) ** 2
         + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2)
    d = 2 * EARTH_RADIUS_M * np.arcsin(np.minimum(1.0, np.sqrt(h)))
    # every radius through the three plans: the broadcast rings, the
    # shuffle fallback (the rings built in a mapInArrow) and the forced
    # broadcast of those; at 6,000 km rx saturates to the whole circle
    plans = {"default": {}, "shuffle": {"max_broadcast_rows": 1},
             "forced": {"broadcast_queries": True}}
    for radius in (300_000.0, 1_500_000.0, 6_000_000.0):
        want = {(q, p) for q in range(8) for p in range(2500)
                if d[q, p] <= radius}
        for plan, kw in plans.items():
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                got = radius_join(P, Q, radius, **kw).toPandas()
            gotset = set(zip(got["query_id"].astype(int),
                             got["point_id"].astype(int)))
            assert len(gotset) == len(got), (radius, plan)
            assert gotset == want, (radius, plan)
    # plan shape: the points side joins via a broadcast of the
    # exploded query rings — no shuffle of the big table
    plan = radius_join(P, Q, 300_000.0)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize("radius", [300_000.0, 2.1e7],
                         ids=["300km", "past_half_circumference"])
def test_radius_non_finite_inputs_take_no_pair(spark, radius):
    # NULL, NaN, +Inf and -Inf in lon, lat or both, on either side: a
    # pair with a non-finite coordinate has no distance, so it is never
    # within the radius, not even one past half the circumference
    # (pi R, where every finite pair is)
    import warnings

    from proj_spark.operators.joins import radius_join

    pts, qs, lon, lat, qlon, qlat = _non_finite_inputs(spark, 300)
    d = _np_haversine(qlon[:, None], qlat[:, None], lon[None, :], lat[None, :])
    want = {(int(q), int(p)) for q, p in zip(*np.nonzero(d <= radius))}
    assert want and max(q for q, _ in want) < 4 and max(p for _, p in want) < 300
    for kw in ({}, {"max_broadcast_rows": 1}, {"broadcast_queries": True}):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            got = radius_join(pts, qs, radius, **kw).toPandas()
        assert got["dist_m"].notna().all(), kw
        assert set(zip(got["query_id"], got["point_id"])) == want, kw


def test_asof_join_matches_merge_asof(spark):
    """asof_join == pandas merge_asof (backward, inclusive), with and
    without tolerance, over the real events table."""
    import pandas as pd
    from pyspark.sql import functions as F

    from proj_spark.operators.events import asof_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    right = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("err_id"))
    lp = ev.toPandas().sort_values("ts")
    rp = right.toPandas().sort_values("ts").rename(columns={"ts": "ts_r"})
    for tol_us, tol_pd in ((None, None), (60_000_000, pd.Timedelta("60s"))):
        out = asof_join(ev, right, by="user_id", right_cols=("err_id",),
                        tolerance_us=tol_us).toPandas()
        ref = pd.merge_asof(lp, rp, left_on="ts", right_on="ts_r",
                            by="user_id", direction="backward",
                            tolerance=tol_pd)
        g = out.sort_values("event_id").reset_index(drop=True)
        r = ref.sort_values("event_id").reset_index(drop=True)
        a = g["err_id_right"].astype("float64").fillna(-1).to_numpy()
        b = r["err_id"].astype("float64").fillna(-1).to_numpy()
        assert (g["event_id"].to_numpy() == r["event_id"].to_numpy()).all()
        assert (a == b).all(), tol_us
    # right-side tie dedup: two right rows at the same (user, ts) must
    # resolve to the max payload deterministically
    tie = spark.createDataFrame(pd.DataFrame([
        {"user_id": 1, "ts": pd.Timestamp("2024-01-01 10:00:00"),
         "err_id": 5},
        {"user_id": 1, "ts": pd.Timestamp("2024-01-01 10:00:00"),
         "err_id": 9},
    ]))
    left1 = spark.createDataFrame(pd.DataFrame([
        {"event_id": 100, "user_id": 1,
         "ts": pd.Timestamp("2024-01-01 11:00:00")}]))
    got = asof_join(left1, tie, by="user_id",
                    right_cols=("err_id",)).collect()[0]
    assert int(got["err_id_right"]) == 9


def test_radius_join_small_radius_near_pole(spark):
    """Code-review regression: the 89.99-deg clamp used to SHRINK the
    longitude ring for small radii near the poles — two points 180 deg
    apart in longitude but ~160 m apart across the pole must pair."""
    import numpy as np
    import pandas as pd

    from proj_spark.operators.joins import radius_join

    pts = pd.DataFrame({"point_id": [0, 1, 2],
                        "lon": [180.0, 0.0, 90.0],
                        "lat": [89.9995, 89.0, -89.9995]})
    qs = pd.DataFrame({"query_id": [0, 1],
                       "lon": [0.0, -90.0],
                       "lat": [89.999, -89.999]})
    out = radius_join(spark.createDataFrame(pts), spark.createDataFrame(qs),
                      1000.0).toPandas()
    got = set(zip(out["query_id"].astype(int), out["point_id"].astype(int)))
    assert (0, 0) in got   # across the north pole, dlon = 180
    assert (1, 2) in got   # across the south pole
    assert (0, 1) not in got  # ~111 km away


def test_radius_join_broadcast_guard_falls_back_to_shuffle(spark):
    """Round-4 ADVICE: an exploded query-ring set past the broadcast
    budget must fall back to a shuffle join (with a warning naming the
    cause) rather than broadcast unconditionally — and the result set
    must be identical on both plans."""
    import warnings

    import numpy as np
    import pandas as pd

    from proj_spark.operators.joins import radius_join

    rng = np.random.default_rng(11)
    pts = pd.DataFrame({"point_id": range(500),
                        "lon": rng.uniform(-10, 10, 500),
                        "lat": rng.uniform(-10, 10, 500)})
    qs = pd.DataFrame({"query_id": range(4),
                       "lon": [0.0, 1.0, 2.0, 3.0],
                       "lat": [0.0, 1.0, 2.0, 3.0]})
    P, Q = spark.createDataFrame(pts), spark.createDataFrame(qs)
    bc = radius_join(P, Q, 200_000.0)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        sh = radius_join(P, Q, 200_000.0, max_broadcast_rows=3)
    assert any("max_broadcast_rows" in str(w.message) for w in caught)
    # the FORCED broadcast hint is gone (AQE may still pick a broadcast
    # from real size stats — the guard only stops forcing one past the
    # driver budget); the hinted plan carries ResolvedHint, the
    # fallback must not
    assert "ResolvedHint" in bc._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in sh._jdf.queryExecution().analyzed().toString()
    a = {(r.query_id, r.point_id) for r in bc.collect()}
    b = {(r.query_id, r.point_id) for r in sh.collect()}
    assert a == b and len(a) > 0


def test_radius_join_broadcast_override_is_lazy(spark):
    """Round-6 ADVICE fix: broadcast_queries=True must not run ANY
    Spark action at plan-construction time (fully lazy composition);
    False forces the shuffle plan; both agree with the default plan."""
    import pandas as pd

    from proj_spark.operators.joins import radius_join

    pts = pd.DataFrame({"point_id": range(200),
                        "lon": [(i % 40) / 4.0 for i in range(200)],
                        "lat": [(i % 25) / 2.5 for i in range(200)]})
    qs = pd.DataFrame({"query_id": [0, 1],
                       "lon": [1.0, 5.0], "lat": [2.0, 6.0]})
    P, Q = spark.createDataFrame(pts), spark.createDataFrame(qs)

    # a queries side whose evaluation EXPLODES if anything touches it
    # at plan time: an action-at-construction would raise here
    from pyspark.sql import functions as F

    bomb = Q.withColumn(
        "lat", F.when(F.lit(True),
                      F.col("lat")).otherwise(F.raise_error("boom")))
    forced = radius_join(P, bomb, 150_000.0, broadcast_queries=True)
    assert "ResolvedHint" in forced._jdf.queryExecution().analyzed().toString()

    got_f = {(r.query_id, r.point_id)
             for r in radius_join(P, Q, 150_000.0,
                                  broadcast_queries=True).collect()}
    got_s = {(r.query_id, r.point_id)
             for r in radius_join(P, Q, 150_000.0,
                                  broadcast_queries=False).collect()}
    got_d = {(r.query_id, r.point_id)
             for r in radius_join(P, Q, 150_000.0).collect()}
    assert got_f == got_s == got_d and len(got_d) > 0
