"""The Arrow reader and writer behind every Python stage outside
``streaming/`` (``proj_spark/_pyworker.py``): float columns to float64
numpy with NaN for null, nested coordinate lists to flat x/y plus
offsets and back, over sliced batches, nulls, empty parts and
three-coordinate points; row tuples to a record batch; the bodies that
read through them; and that no batch stage takes another form."""

import ast
import os

import numpy as np
import pyarrow as pa
import pytest

from proj_spark._pyworker import _coords, _floats, _nested, _rows
from proj_spark.operators.geometry import _GEOMETRY_ARROW

PARTS = _GEOMETRY_ARROW.field("parts").type


def _same(a, b):
    a, b = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
    return a.shape == b.shape and (a.view(np.int64) == b.view(np.int64)).all()


def test_floats_null_lane_and_slice():
    arr = pa.array([1.0, None, 3.0, 4.5, None])
    assert _same(_floats(arr), [1.0, np.nan, 3.0, 4.5, np.nan])
    # a sliced batch starts at a non-zero offset into the buffer
    assert _same(_floats(arr.slice(2, 2)), [3.0, 4.5])
    assert _same(_floats(pa.array([1, None, 2**53 + 1], pa.int64())),
                 [1.0, np.nan, float(2**53 + 1)])


def test_floats_hands_over_the_buffer_read_only():
    v = _floats(pa.array([10.0, 20.0]))
    assert not v.flags.writeable
    with pytest.raises(ValueError):
        v[0] = 0.0


def test_coords_offsets_nulls_and_empty_parts():
    parts = pa.array([
        [[[0.0, 1.0], [2.0, 3.0]], []],          # an empty part
        None,                                     # a null geometry
        [[[4.0, 5.0, 99.0]], None, [[6.0, 7.0]]],  # z, a null part
        [],                                       # no parts
    ], type=PARTS)
    c = _coords(parts)
    assert _same(c.x, [0.0, 2.0, 4.0, 6.0]) and _same(c.y, [1.0, 3.0, 5.0, 7.0])
    assert c.part_off.tolist() == [0, 2, 2, 3, 3, 4]
    assert c.geom_off.tolist() == [0, 2, 2, 5, 5]
    s = _coords(parts.slice(2, 2))
    assert _same(s.x, [4.0, 6.0]) and s.part_off.tolist() == [0, 1, 1, 2]
    assert s.geom_off.tolist() == [0, 3, 3]
    # a null coordinate reads NaN; a point without a y is an error
    n = _coords(pa.array([[[[None, 1.0]]]], type=PARTS))
    assert np.isnan(n.x[0]) and n.y[0] == 1.0
    with pytest.raises(ValueError, match="x and a y"):
        _coords(pa.array([[[[1.0]]]], type=PARTS))


def test_nested_rebuilds_the_column():
    rows = [[[[0.0, 1.0], [2.0, 3.0]], []], [], [[[4.0, 5.0]]]]
    c = _coords(pa.array(rows, type=PARTS))
    assert _nested(c.x, c.y, c.part_off, c.geom_off).to_pylist() == rows
    # NaN leaves as null, and invalid rows are null
    out = _nested(np.array([np.nan]), np.array([1.0]), np.array([0, 1]),
                  np.array([0, 1, 1]), valid=np.array([True, False]))
    assert out.to_pylist() == [[[[None, 1.0]]], None]


def test_geometry_bodies_with_nulls_and_a_sliced_batch():
    from proj_spark.crs import Transform
    from proj_spark.operators.geometry import _bounds_batch, _transform_geom_batch

    g = pa.array([
        {"kind": "Point", "parts": [[[0.0, 0.0]]], "offsets": None},
        None,
        {"kind": "LineString", "parts": [[[10.0, 50.0], [11.0, 51.0, 7.0]]],
         "offsets": None},
        {"kind": "MultiPoint", "parts": None, "offsets": [0]},
    ], type=_GEOMETRY_ARROW).slice(1)
    t = Transform.new_known_crs("EPSG:4326", "EPSG:3857")
    out = _transform_geom_batch(g, t, "mask").to_pylist()
    x, y = t.convert_array(np.array([10.0, 11.0]), np.array([50.0, 51.0]))[:2]
    assert out[0] is None and out[2]["parts"] is None
    assert out[2]["offsets"] == [0]
    assert out[1]["parts"] == [[[x[0], y[0]], [x[1], y[1]]]]
    b = _bounds_batch(g).to_pylist()
    assert b[0] == b[2] == {"minx": None, "miny": None, "maxx": None,
                            "maxy": None}
    assert b[1] == {"minx": 10.0, "miny": 50.0, "maxx": 11.0, "maxy": 51.0}


def test_transform_body_reads_read_only_buffers(spark):
    from proj_spark.functions.transform import proj_udf

    x, y = pa.array([10.0, None, 10.0]), pa.array([50.0, 5.0, 95.0])
    assert not _floats(x.slice(0, 1)).flags.writeable
    out = proj_udf("EPSG:4326", "EPSG:3857").func(x, y).to_pylist()
    assert out[0]["err"] is None and out[0]["x"] > 1e6
    # a null or invalid lane comes back null with its error
    assert out[1]["x"] is None and out[1]["err"] is not None
    assert out[2]["y"] is None and out[2]["err"] is not None


def test_pip_test_chunks_split_at_rows(spark):
    # candidates carry their polygon's position in the edge payload; a
    # chunk_pairs so small that nearly every row is its own chunk gives
    # the same booleans as one chunk for the whole batch
    from proj_spark.operators import joins as J

    rng = np.random.default_rng(5)
    rings = []
    for k in range(6):
        a = np.sort(rng.uniform(0.0, 2.0 * np.pi, 5 + k))
        ring = np.column_stack([3.0 * np.cos(a), 2.0 * np.sin(a)]).tolist()
        rings.append([ring + ring[:1]])
    rings.append([[[0.0, 0.0], [1.0, 1.0]]])  # no edges
    x1, y1, x2, y2, cnts = J._ring_edges(_coords(pa.array(rings, type=PARTS)))
    edges = (x1, y1, x2, y2, np.concatenate([[0], np.cumsum(cnts)[:-1]]), cnts)
    bc = type("Bc", (), {"value": edges})
    n = 400
    lon, lat = pa.array(rng.uniform(-4, 4, n)), pa.array(rng.uniform(-3, 3, n))
    pos = pa.array(rng.integers(0, len(rings), n), pa.int32())
    one = J._make_pip_test_udf_bc(bc).func(lon, lat, pos).to_pylist()
    for chunk_pairs in (1, 7, 40):
        many = J._make_pip_test_udf_bc(bc, chunk_pairs).func(lon, lat, pos)
        assert many.to_pylist() == one, chunk_pairs
    want = [bool(J._np_point_in_rings(np.array([x]), np.array([y]),
                                      [np.array(r) for r in rings[p]])[0])
            for x, y, p in zip(lon.to_pylist(), lat.to_pylist(),
                               pos.to_pylist())]
    assert one == want and 0 < sum(one) < n


def test_exterior_bbox_follows_spark_nan_rule():
    # the pack's bbox reads the first ring only; a polygon with a NaN or
    # infinite exterior vertex, or no exterior point, gets the empty
    # box, which covers no cell
    from proj_spark.operators import joins as J

    nan, inf = float("nan"), float("inf")
    polys = pa.array([
        [[[1.0, 2.0], [3.0, -1.0], [1.0, 2.0]], [[9.0, 9.0], [8.0, 8.0]]],
        [[[5.0, 5.0], [nan, 6.0], [8.0, 9.0]]],
        [[[nan, nan], [nan, nan]]],
        [[], [[0.0, 0.0], [1.0, 1.0]]],
        [],
        None,
        [[[0.0, 0.0], [1.0, -inf], [2.0, 2.0]], [[nan, 1.0], [1.0, 1.0]]],
        [[[0.0, 0.0], [2.0, 1.0]], [[nan, 1.0], [inf, 1.0]]],
    ], type=PARTS)
    bbox = J._exterior_bbox(_coords(polys))
    empty = [inf, -inf, inf, -inf]
    assert _same(bbox, [[1.0, 3.0, -1.0, 2.0]] + [empty] * 6
                 + [[0.0, 2.0, 0.0, 1.0]])
    assert J._has_box(bbox).tolist() == [True] + [False] * 6 + [True]
    cover = J._cover(pa.array(list("abcdefgh")), bbox, 3, "poly_id")
    assert set(cover.column("poly_id").to_pylist()) == {"a", "h"}


def test_geodesic_rows_equal_the_scalar_calls(spark):
    from proj_spark.operators.geodesic import (geom_area_m2, geom_length_m,
                                               with_geodesic_area,
                                               with_geodesic_length)
    from proj_spark.operators.geometry import (GEOMETRY_DDL, geom_multipolygon,
                                               geom_polygon, geom_rect)

    rng = np.random.default_rng(5)

    def ring(cx, cy, r, n):
        a = np.sort(rng.uniform(0.0, 2.0 * np.pi, n))
        return [[float(cx + r * np.cos(v)), float(cy + r * np.sin(v))]
                for v in a]

    geoms = []
    for i in range(40):
        cx, cy, r = rng.uniform(-170, 170), rng.uniform(-80, 80), rng.uniform(0.1, 5)
        outer, hole = ring(cx, cy, r, 5 + 7 * i), ring(cx, cy, r / 5, 6)
        geoms += [geom_polygon([outer, hole]),
                  geom_multipolygon([[outer, hole], [ring(cx, cy, r / 9, 11)]]),
                  geom_rect((cx - r, cy - r), (cx + r, cy + r))]
    df = spark.createDataFrame(list(enumerate(geoms)),
                               f"gid long, geom struct<{GEOMETRY_DDL}>")
    rows = with_geodesic_length(with_geodesic_area(df)).collect()
    assert len(rows) == len(geoms)
    for r in rows:
        g = geoms[r["gid"]]
        assert _same(r["area_m2"], geom_area_m2(**g)), r["gid"]
        assert _same(r["length_m"], geom_length_m(**g)), r["gid"]


def test_rows_writes_row_tuples_in_the_schema_types():
    schema = pa.schema([("id", pa.string()), ("n", pa.int32()),
                        ("data", pa.binary()), ("x", pa.float64())])
    batch = _rows([("a", np.int64(3), b"\x00\x01", 0.5),
                   ("b", 4, b"", float("nan"))], schema)
    assert batch.schema == schema
    assert batch.column(0).to_pylist() == ["a", "b"]
    assert batch.column(1).to_pylist() == [3, 4]
    assert batch.column(2).to_pylist() == [b"\x00\x01", b""]
    assert np.isnan(batch.column(3).to_pylist()[1])
    empty = _rows([], schema)
    assert empty.schema == schema and empty.num_rows == 0
    with pytest.raises(pa.ArrowInvalid):
        _rows([("c", 2**40, b"", 0.0)], schema)  # no silent wrap


_PANDAS_STAGES = {"mapInPandas", "pandas_udf", "applyInPandas",
                  "applyInPandasWithState"}


def test_one_python_stage_form():
    """Every batch Python stage in ``proj_spark/`` is an ``arrow_udf``
    or ``mapInArrow``: no pandas stage outside ``streaming/`` (whose
    stateful ``applyInPandasWithState`` has no Arrow form), and no
    pandas import in ``sources/``."""
    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "proj_spark")
    found = []
    for dirpath, _dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root).split(os.sep)
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(dirpath, name)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            where = os.path.relpath(path, root)
            for node in ast.walk(tree):
                if isinstance(node, ast.Call) and rel[0] != "streaming":
                    fn = node.func
                    called = fn.attr if isinstance(fn, ast.Attribute) \
                        else getattr(fn, "id", None)
                    if called in _PANDAS_STAGES:
                        found.append(f"{where}:{node.lineno} {called}")
                if rel[0] == "sources" and isinstance(
                        node, (ast.Import, ast.ImportFrom)):
                    mods = [a.name for a in node.names] \
                        if isinstance(node, ast.Import) else [node.module]
                    if any((m or "").split(".")[0] == "pandas" for m in mods):
                        found.append(f"{where}:{node.lineno} imports pandas")
    assert not found, found
