"""Transform parity between two trees: the outputs and error outcomes of
the coordinate-transform surface, hashed per input.

Run ``dump`` once per tree (the tree on ``PYTHONPATH`` is the one
measured), then ``diff`` the two files:

    PYTHONPATH=<parent tree> python tools/transform_parity.py dump parent.json
    PYTHONPATH=<change tree> python tools/transform_parity.py dump change.json
    python tools/transform_parity.py diff parent.json change.json

A changed hash cannot tell a fix from a regression.  ``rows`` and
``rowdiff`` check row by row instead, over the registry cases only:
``rows`` pickles each mask-mode batch row and the same point run alone,
and ``rowdiff`` sorts every changed batch row into a known class (see
``rowdiff``) and exits 1 when one is unexplained:

    PYTHONPATH=<parent tree> python tools/transform_parity.py rows parent.pkl
    PYTHONPATH=<change tree> python tools/transform_parity.py rows change.pkl
    python tools/transform_parity.py rowdiff parent.pkl change.pkl

Transforms: every registry code -> EPSG:4326 and EPSG:4326 -> every
code (``new_known_crs``); the ``__spark_entry__`` proj strings
``_MERC_TS`` and ``_AEQD_PARIS``; and the hgridshift, vgridshift and
h+v pipelines over the grids in ``proj_spark/data``.  Each transform
runs ``convert_array`` and ``project_array`` forward and inverse,
strict and mask, ``convert_array3`` with z, three scalar ``convert``
calls, ``transform_bounds`` and a misspelt ``errors`` mode.  The UDF
batch bodies (``proj_udf``, ``projstring_udf`` in degrees and units,
forward and inverse, ``projstring_udf3``, the geometry batch and
``geom_bounds_udf``) are called directly on pandas Series, with no
Spark session.

Inputs are seeded points over the globe and over each CRS's area, plus
NaN, +-Inf, |lat| > 90, both poles, the antimeridian, longitudes past
+-180 and points off every grid; a CRS->4326 run is fed the outputs of
its 4326->CRS run.  An outcome is the sha256 of the float64 outputs
(and the error column), or ``EXC:<class>: <message>``.  ``diff``
prints how many outcomes changed, grouped by (parent, change) outcome
class, with every hash shown as ``array``.
"""

from __future__ import annotations

import collections
import functools
import hashlib
import json
import pickle
import sys

import numpy as np

GRIDS = {
    "hgrid": "+proj=pipeline +step +proj=hgridshift +grids=synthetic_shift.gsb",
    "hgrid2": ("+proj=pipeline +step +proj=hgridshift "
               "+grids=synthetic_shift2.gsb"),
    "vgrid": ("+proj=pipeline +step +proj=vgridshift "
              "+grids=synthetic_geoid.gtx"),
    "vgrid_half_inv": ("+proj=pipeline +step +proj=vgridshift "
                       "+grids=synthetic_geoid.gtx +multiplier=0.5 +inv"),
    "h+v": ("+proj=pipeline +step +proj=hgridshift +grids=synthetic_shift2.gsb"
            " +step +proj=vgridshift +grids=synthetic_geoid.gtx"),
}

# lon, lat in degrees: NaN/Inf, past the poles, the poles, the
# antimeridian and beyond, and the origin
EDGES = np.array([
    (np.nan, 0.0), (0.0, np.nan), (np.inf, 10.0), (-np.inf, 10.0),
    (10.0, np.inf), (0.0, 90.0), (0.0, -90.0), (45.0, 91.0),
    (45.0, -95.0), (180.0, 0.0), (-180.0, 0.0), (180.0000001, 45.0),
    (-179.9999999, -45.0), (540.0, 10.0), (-720.0, 10.0), (0.0, 0.0),
]).T


def _hash_arrays(arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        a = np.asarray(a)
        if a.dtype.kind not in "biuf":  # error messages, rows of lists
            h.update(repr(a.tolist()).encode())
        else:
            h.update(repr(a.shape).encode() + a.astype(np.float64).tobytes())
    return h.hexdigest()[:16]


def _columns(r):
    """A UDF body's output, pandas or Arrow, as ``{column: list}`` with
    NaN as None (Spark receives a float NaN from a pandas UDF as null),
    or None when ``r`` is no UDF output."""
    import pandas as pd
    import pyarrow as pa

    def canon(v):
        if isinstance(v, float) and v != v:
            return None
        if isinstance(v, (list, tuple, np.ndarray)):
            return [canon(x) for x in list(v)]
        return v

    if isinstance(r, pd.Series):
        r = r.to_frame("")
    if isinstance(r, pd.DataFrame):
        cols = {c: r[c].tolist() for c in r.columns}
    elif isinstance(r, pa.RecordBatch):
        cols = r.to_pydict()
    elif isinstance(r, pa.StructArray):
        cols = {f.name: a.to_pylist() for f, a in zip(r.type, r.flatten())}
    elif isinstance(r, pa.Array):
        cols = {"": r.to_pylist()}
    else:
        return None
    return {c: canon(v) for c, v in cols.items()}


def _outcome(fn) -> str:
    try:
        r = fn()
    except Exception as e:  # noqa: BLE001  (the class IS the outcome)
        return f"EXC:{type(e).__name__}: {e}"
    cols = _columns(r)
    if cols is not None:  # a UDF's output
        return hashlib.sha256(repr(cols).encode()).hexdigest()[:16]
    return _hash_arrays(r if isinstance(r, tuple) else (r,))


def _points(seed, area=None):
    rng = np.random.default_rng(seed)
    lon = [rng.uniform(-180.0, 180.0, 64), EDGES[0]]
    lat = [rng.uniform(-90.0, 90.0, 64), EDGES[1]]
    if area is not None:
        east = area.east + (360.0 if area.east < area.west else 0.0)
        lon.append((rng.uniform(area.west, east, 64) + 180.0) % 360.0 - 180.0)
        lat.append(rng.uniform(area.south, area.north, 64))
    return np.concatenate(lon), np.concatenate(lat)


def _record(out, name, build, x, y, z):
    """Every runner entry point of one transform on one input set."""
    try:
        t = build()
    except Exception as e:  # noqa: BLE001
        out[name] = f"EXC:{type(e).__name__}: {e}"
        return None
    for errors in ("strict", "mask"):
        out[f"{name}|convert_array|{errors}"] = _outcome(
            lambda: t.convert_array(x.copy(), y.copy(), errors=errors))
        out[f"{name}|project_array_inv|{errors}"] = _outcome(
            lambda: t.project_array(x.copy(), y.copy(), inverse=True,
                                    errors=errors))
        out[f"{name}|convert_array3|{errors}"] = _outcome(
            lambda: t.convert_array3(x.copy(), y.copy(), z.copy(),
                                     errors=errors))
        out[f"{name}|project_array3_inv|{errors}"] = _outcome(
            lambda: t.project_array3(x.copy(), y.copy(), z.copy(),
                                     inverse=True, errors=errors))
        for i in (0, 64, len(x) - 1):
            out[f"{name}|convert[{i}]|{errors}"] = _outcome(
                lambda: t.convert(float(x[i]), float(y[i]), errors=errors))
    out[f"{name}|convert_array|Mask"] = _outcome(
        lambda: t.convert_array(x.copy(), y.copy(), errors="Mask"))
    fin = np.isfinite(x) & np.isfinite(y)
    if fin.any():
        b = (float(np.min(x[fin])), float(np.min(y[fin])),
             float(np.max(x[fin])), float(np.max(y[fin])))
        out[f"{name}|transform_bounds"] = _outcome(
            lambda: t.transform_bounds(*b))
    return t


def _registry_cases():
    """``(name, build, x, y, z)`` for every registry code -> EPSG:4326
    and back; a CRS->4326 case is fed the outputs of its 4326->CRS case
    and is left out when that one cannot be built."""
    from proj_spark.crs import Transform, registry_codes, resolve_crs

    for i, code in enumerate(registry_codes()):
        try:
            area = resolve_crs(code).area
        except Exception:  # noqa: BLE001
            area = None
        lon, lat = _points(i, area)
        z = np.linspace(-50.0, 50.0, len(lon))
        fwd = functools.partial(Transform.new_known_crs, "EPSG:4326", code)
        yield f"4326->{code}", fwd, lon, lat, z
        try:
            t = fwd()
        except Exception:  # noqa: BLE001
            continue
        try:
            x, y, _ = t.convert_array(lon, lat, errors="mask")
        except Exception:  # noqa: BLE001
            x, y = lon, lat
        yield (f"{code}->4326",
               functools.partial(Transform.new_known_crs, code, "EPSG:4326"),
               x, y, z)


def _registry(out):
    for name, build, x, y, z in _registry_cases():
        _record(out, name, build, x, y, z)


def _pipelines(out):
    import __spark_entry__ as E
    from proj_spark.crs import Transform

    defs = dict(GRIDS, merc_ts=E._MERC_TS, aeqd_paris=E._AEQD_PARIS)
    rng = np.random.default_rng(99)
    # the grids cover lon -120..-112, lat 31..36: most of the first 64
    # points fall on them, the rest (and the edges) off them
    lon = np.concatenate([rng.uniform(-121.0, -111.0, 64),
                          rng.uniform(-180.0, 180.0, 64), EDGES[0]])
    lat = np.concatenate([rng.uniform(30.5, 36.5, 64),
                          rng.uniform(-90.0, 90.0, 64), EDGES[1]])
    z = rng.uniform(-100.0, 100.0, len(lon))
    for name, d in sorted(defs.items()):
        t = _record(out, name, lambda: Transform.new(d),
                    np.radians(lon), np.radians(lat), z)
        if t is not None:
            x, y, _ = t.convert_array(np.radians(lon), np.radians(lat),
                                      errors="mask")
            _record(out, f"{name}|inv_in", lambda: t, x, y, z)


class _NoSpark:
    """What a UDF factory touches of Spark, without a session: a
    decorator that keeps the body (as ``.func`` of the returned stub
    and in ``bodies``), a DataFrame whose ``withColumn``/``select``
    return itself and whose ``mapInPandas``/``mapInArrow`` keep the
    function, and a ``functions`` module whose ``col`` is a stub."""

    def __init__(self):
        self.bodies = []

    def udf(self, *_args, **_kwargs):
        def wrap(f):
            def column(*_cols):
                return None
            column.func = f
            self.bodies.append(f)
            return column
        return wrap

    def frame(self, **schema):
        from types import SimpleNamespace

        bodies = self.bodies

        class Frame:
            def __getattr__(self, name):
                if name in ("mapInPandas", "mapInArrow"):
                    return lambda f, _schema: bodies.append(f) or self
                if name == "schema":
                    return {k: SimpleNamespace(dataType=t)
                            for k, t in schema.items()}
                return lambda *_a, **_k: self
        return Frame()

    @staticmethod
    def functions():
        from types import SimpleNamespace

        class Col:
            def __getitem__(self, _key):
                return self
        return SimpleNamespace(col=lambda _name: Col())


def _udfs(out):
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.types import StringType

    import __spark_entry__ as E
    from proj_spark.crs import Transform
    from proj_spark.functions import transform as T
    from proj_spark.operators import geodesic as D
    from proj_spark.operators import geometry as G
    from proj_spark.operators import joins as J

    # the bodies take the batch type of the decorator their module
    # imports: pyarrow arrays for arrow_udf/mapInArrow, pandas for
    # pandas_udf/mapInPandas
    arrow = hasattr(T, "arrow_udf")
    spark = _NoSpark()
    for mod in (T, G, D, J):
        setattr(mod, "arrow_udf" if arrow else "pandas_udf", spark.udf)
    D.F = spark.functions()

    def col(v):
        return pa.array(v) if arrow else pd.Series(v)

    geom_type = pa.struct([
        ("kind", pa.string()),
        ("parts", pa.list_(pa.list_(pa.list_(pa.float64())))),
        ("offsets", pa.list_(pa.int32()))])

    def geom_batch(geoms, lo, hi):
        if arrow:  # a slice: the batch starts at a non-zero offset
            return pa.array(geoms, type=geom_type).slice(lo, hi - lo)
        return pd.DataFrame(geoms).iloc[lo:hi].reset_index(drop=True)

    def geom_call(body, g):
        return body(g) if arrow else body(g["kind"], g["parts"],
                                          g["offsets"])

    proj_udf, projstring_udf = T.proj_udf, T.projstring_udf
    projstring_udf3 = T.projstring_udf3
    rng = np.random.default_rng(7)
    lon = np.concatenate([rng.uniform(-121.0, -111.0, 32),
                          rng.uniform(-180.0, 180.0, 32), EDGES[0]])
    lat = np.concatenate([rng.uniform(30.5, 36.5, 32),
                          rng.uniform(-90.0, 90.0, 32), EDGES[1]])
    xs, ys = col(lon), col(lat)
    zs = col(rng.uniform(-100.0, 100.0, len(lon)))
    for errors in ("mask", "strict", "Strict"):
        for dst in ("EPSG:3857", "EPSG:32611", "EPSG:26946"):
            for inverse in (False, True):
                out[f"proj_udf|{dst}|{inverse}|{errors}"] = _outcome(
                    lambda: proj_udf("EPSG:4326", dst, errors=errors,
                                     inverse=inverse).func(xs, ys))
        for name in ("merc_ts", "aeqd_paris", "hgrid2", "vgrid", "h+v"):
            d = (GRIDS[name] if name in GRIDS
                 else getattr(E, "_" + name.upper()))
            for units in ("deg", "unit"):
                for inverse in (False, True):
                    key = f"{name}|{units}|{inverse}|{errors}"
                    out[f"projstring_udf|{key}"] = _outcome(
                        lambda: projstring_udf(
                            d, input_units=units, inverse=inverse,
                            errors=errors).func(xs, ys))
                    out[f"projstring_udf3|{key}"] = _outcome(
                        lambda: projstring_udf3(
                            d, input_units=units, inverse=inverse,
                            errors=errors).func(xs, ys, zs))
    geoms = [G.geom_point(lon[0], lat[0]),
             G.geom_linestring(list(zip(lon[:8], lat[:8]))),
             G.geom_polygon([list(zip(lon[8:14], lat[8:14])),
                             list(zip(lon[14:18], lat[14:18]))]),
             G.geom_multipolygon([[list(zip(lon[20:24], lat[20:24]))],
                                  [list(zip(lon[24:30], lat[24:30]))]]),
             G.geom_rect((lon[30], lat[30]), (lon[31], lat[31])),
             G.geom_multipoint(list(zip(lon[64:], lat[64:]))),
             {"kind": "LineString", "parts": [[]], "offsets": None}]
    t = Transform.new_known_crs("EPSG:4326", "EPSG:3857")
    for errors in ("mask", "strict"):
        for lo, hi in ((0, 5), (0, 7), (5, 7), (6, 7)):
            g = geom_batch(geoms, lo, hi)
            out[f"geom_batch|{lo}:{hi}|{errors}"] = _outcome(
                lambda: G._transform_geom_batch(g, t, errors) if arrow
                else G._transform_geom_batch(g["kind"], g["parts"],
                                             g["offsets"], t, errors))
    out["geom_bounds"] = _outcome(
        lambda: G.geom_bounds_udf().func(geom_batch(geoms, 0, 7)))

    # geodesic area and length bodies over polygons with holes, pole
    # rings, MultiPolygons, Rects, lines and points
    def ring(cx, cy, r, n, closed):
        a = np.sort(rng.uniform(0.0, 2.0 * np.pi, n))
        pts = [[cx + r * np.cos(v), cy + r * np.sin(v)] for v in a]
        return pts + pts[:1] if closed else pts

    shapes = []
    for i in range(24):
        cx, cy = rng.uniform(-170.0, 170.0), rng.uniform(-80.0, 80.0)
        r = rng.uniform(0.01, 8.0)
        outer = ring(cx, cy, r, int(rng.integers(3, 200)), i % 2 == 0)
        holes = [ring(cx, cy, r / 4, int(rng.integers(3, 12)), i % 3 == 0)
                 for _ in range(i % 3)]
        shapes += [G.geom_polygon([outer] + holes),
                   G.geom_multipolygon([[outer] + holes,
                                        [ring(cx + 1, cy, r / 3, 9, False)]]),
                   G.geom_rect((cx - r, cy - r / 2), (cx + r, cy + r / 2))]
        if i % 4 == 0:
            shapes.append(G.geom_triangle(*outer[:3]))
    lines = [G.geom_linestring(list(zip(lon[:8], lat[:8]))),
             G.geom_multilinestring([list(zip(lon[8:14], lat[8:14])),
                                     list(zip(lon[14:15], lat[14:15]))]),
             G.geom_multipoint(list(zip(lon[64:], lat[64:]))),
             G.geom_point(lon[1], lat[1])]
    lons = np.linspace(-180.0, 179.0, 360)
    shapes += [G.geom_polygon([[[v, 80.0] for v in lons]]),
               G.geom_polygon([[[v, -80.0] for v in lons[::-1]]])]
    D.with_geodesic_area(spark.frame())
    D.with_geodesic_length(spark.frame())
    area, length = spark.bodies[-2:]
    n = len(shapes)
    for lo, hi in ((0, n), (3, n - 5), (n - 1, n)):
        out[f"geodesic_area|{lo}:{hi}"] = _outcome(
            lambda: geom_call(area, geom_batch(shapes, lo, hi)))
        out[f"geodesic_length|{lo}:{hi}"] = _outcome(
            lambda: geom_call(length, geom_batch(shapes + lines, lo, hi)))
    out["geodesic_area|line"] = _outcome(
        lambda: geom_call(area, geom_batch(lines, 0, 1)))
    out["geodesic_area|scalar"] = _outcome(lambda: np.array(
        [D.geom_area_m2(**g) for g in shapes]))
    out["geodesic_length|scalar"] = _outcome(lambda: np.array(
        [D.geom_length_m(**g) for g in shapes + lines]))

    # PIP: the polygon pack over two batches, its driver assembly, and
    # the ray-cast test of seeded points against the broadcast edges (a
    # tree whose pack row carries bboxes takes polygon positions, an
    # older one poly ids)
    polys = [{"poly_id": f"p{i}", "rings": g["parts"]}
             for i, g in enumerate(shapes) if g["kind"] == "Polygon"]
    polys.append({"poly_id": "z", "rings": [
        [[0.0, 0.0, 5.0], [10.0, 0.0, 5.0], [0.0, 10.0, 5.0],
         [0.0, 0.0, 5.0]], [[1.0, 1.0], [2.0, 2.0]]]})

    def pack_batches():
        for lo, hi in ((0, 5), (5, len(polys))):
            part = polys[lo:hi]
            yield (pa.RecordBatch.from_pylist(part, schema=pa.schema([
                ("poly_id", pa.string()),
                ("rings", geom_type.field("parts").type)]))
                   if arrow else pd.DataFrame(part))

    J._pack_edges_sdf(spark.frame(poly_id=StringType()), "poly_id", "rings")
    pack = spark.bodies[-1]
    out["pip_pack"] = _outcome(lambda: next(iter(pack(pack_batches()))))
    packed = next(iter(pack(pack_batches())))
    px = np.concatenate([rng.uniform(-180.0, 180.0, 400),
                         [v for p in polys for r in p["rings"]
                          for v in np.asarray(r)[:, 0]], [np.nan, 5.0]])
    py = np.concatenate([rng.uniform(-90.0, 90.0, 400),
                         [v for p in polys for r in p["rings"]
                          for v in np.asarray(r)[:, 1]], [5.0, np.nan]])
    if hasattr(J, "_assemble_pack"):
        edges = J._assemble_pack(pa.Table.from_batches([packed])).edges
        keys = pa.array([i % len(polys) for i in range(len(px))], pa.int32())
    else:
        packed = _columns(packed)
        edges = J._assemble_edges([dict(zip(packed, v))
                                   for v in zip(*packed.values())])
        keys = col([polys[i % len(polys)]["poly_id"] for i in range(len(px))])
    for name, chunk_pairs in (("pip_test", 4_000_000), ("pip_test|chunked", 64)):
        test = J._make_pip_test_udf_bc(type("Bc", (), {"value": edges}),
                                       chunk_pairs).func
        out[name] = _outcome(lambda: test(col(px), col(py), keys))


def dump(path: str) -> None:
    out: dict = {}
    for part in (_registry, _pipelines, _udfs):
        part(out)
    with open(path, "w") as f:
        json.dump(out, f, indent=0, sort_keys=True)
    n_exc = sum(v.startswith("EXC:") for v in out.values())
    print(f"{len(out)} outcomes, {n_exc} exceptions")


def _class(outcome: str) -> str:
    return outcome if outcome.startswith("EXC:") else "array"


def diff(path_a: str, path_b: str) -> int:
    with open(path_a) as fa, open(path_b) as fb:
        a, b = json.load(fa), json.load(fb)
    pairs = [(k, v, b.get(k, "missing")) for k, v in a.items()]
    pairs += [(k, "missing", v) for k, v in b.items() if k not in a]
    changed = [(k, va, vb) for k, va, vb in pairs if va != vb]
    print(f"{len(a)} inputs, {len(changed)} changed")
    moved = collections.Counter((_class(va), _class(vb))
                                for _, va, vb in changed)
    for (va, vb), c in moved.most_common():
        example = next(k for k, x, y in changed
                       if (_class(x), _class(y)) == (va, vb))
        print(f"  {va} -> {vb}: {c}  (e.g. {example})")
    return len(changed)


def _row_run(fn):
    """``(3, n)`` rows of x, y and a flag (0 valid, 1 masked) from a
    mask-mode run, or the exception it raised."""
    try:
        x, y, err = fn()
    except Exception as e:  # noqa: BLE001
        return f"{type(e).__name__}: {e}"
    return np.stack([np.atleast_1d(x), np.atleast_1d(y),
                     np.atleast_1d(err != None)])  # noqa: E711


def rows(path: str) -> None:
    """Per-row outputs of the registry cases in mask mode: the batch
    (``convert_array``, ``project_array`` inverse) and every point run
    alone (``convert``, ``project`` inverse)."""
    out = {}
    for name, build, x, y, _ in _registry_cases():
        try:
            t = build()
        except Exception:  # noqa: BLE001
            continue
        for entry, batch, one, units_in in (
                ("convert", t.convert_array, t.convert, t._angular_io[0]),
                ("project_inv",
                 functools.partial(t.project_array, inverse=True),
                 functools.partial(t.project, inverse=True),
                 t._angular_io[1])):
            points = [_row_run(lambda: one(float(x[i]), float(y[i]),
                                           errors="mask"))
                      for i in range(len(x))]
            out[f"{name}|{entry}"] = {
                "in": np.stack([x, y]),
                "geographic_in": units_in == "deg",
                "batch": _row_run(lambda: batch(x, y, errors="mask")),
                "point": np.concatenate(
                    [p if not isinstance(p, str) else
                     np.array([[np.nan], [np.nan], [2.0]]) for p in points],
                    axis=1),
            }
    with open(path, "wb") as f:
        pickle.dump(out, f)
    print(f"{len(out)} runs, {sum(len(v['in'][0]) for v in out.values())} rows")


def _same(a, b):
    """Bit-equal rows, NaN equal to NaN."""
    return ((a.view(np.int64) == b.view(np.int64))
            | (np.isnan(a) & np.isnan(b))).all(axis=0)


def rowdiff(path_a: str, path_b: str) -> int:
    """Classify every batch row that changed from tree A to tree B.  A
    change is explained when A's batch raised; when both trees mask the
    row; when the input is non-finite (or a latitude past a pole
    entering from a geographic CRS) and B masks a row A returned valid;
    when a CRS->4326 row is fed a 4326->CRS row that B changed (it is
    classified in its own run); or when B's row equals A's per-point
    run bit for bit, i.e. A's batch result depended on its neighbours.
    Every other change is printed and counted as unexplained.  Reads
    only pickles written by ``rows``."""
    with open(path_a, "rb") as fa, open(path_b, "rb") as fb:
        a, b = pickle.load(fa), pickle.load(fb)
    moved = collections.Counter()
    other = []
    for key, ra in a.items():
        rb = b[key]
        x, y = ra["in"]
        if isinstance(rb["batch"], str):
            other.append((key, "all rows", rb["batch"]))
            continue
        if isinstance(ra["batch"], str):
            moved[f"A raised {ra['batch'].split(':')[0]}"] += len(x)
            continue
        changed = ~_same(ra["batch"], rb["batch"])
        masked_now = (ra["batch"][2] == 0) & (rb["batch"][2] == 1)
        for i in np.flatnonzero(changed):
            if ra["batch"][2, i] == 1 and rb["batch"][2, i] == 1:
                moved["masked in both"] += 1
                continue
            if not _same(ra["in"][:, i:i + 1], rb["in"][:, i:i + 1])[0]:
                if rb["batch"][2, i] == 0:  # the upstream row is checked
                    moved["fed a row B changed upstream, valid in both"] += 1
                    continue
                cls = "fed a row B masks upstream, valid -> masked"
            elif not (np.isfinite(x[i]) and np.isfinite(y[i])):
                cls = "non-finite input, valid -> masked"
            elif ra["geographic_in"] and abs(y[i]) > 90.0:
                cls = "|lat| > 90 input, valid -> masked"
            elif _same(rb["batch"][:, i:i + 1], ra["point"][:, i:i + 1])[0]:
                moved["finite input, B batch == A per-point"] += 1
                continue
            else:
                other.append((key, i, (x[i], y[i], ra["batch"][:, i],
                                       rb["batch"][:, i])))
                continue
            if masked_now[i]:
                moved[cls] += 1
            else:
                other.append((key, i, (cls, ra["batch"][:, i],
                                       rb["batch"][:, i])))
    n = sum(len(v["in"][0]) for v in a.values())
    print(f"{len(a)} runs, {n} rows, "
          f"{sum(moved.values()) + len(other)} changed")
    for cls, c in moved.most_common():
        print(f"  {cls}: {c}")
    print(f"  unexplained: {len(other)}")
    for o in other[:20]:
        print("   ", o)
    return len(other)


if __name__ == "__main__":
    if sys.argv[1:2] == ["dump"] and len(sys.argv) == 3:
        dump(sys.argv[2])
    elif sys.argv[1:2] == ["diff"] and len(sys.argv) == 4:
        diff(sys.argv[2], sys.argv[3])
    elif sys.argv[1:2] == ["rows"] and len(sys.argv) == 3:
        rows(sys.argv[2])
    elif sys.argv[1:2] == ["rowdiff"] and len(sys.argv) == 4:
        sys.exit(1 if rowdiff(sys.argv[2], sys.argv[3]) else 0)
    else:
        sys.exit(__doc__)
